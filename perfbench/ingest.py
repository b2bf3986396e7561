"""`import` workload: the paper's ETL path on a seeded mbrainz corpus.

Set-up writes the corpus (cached by seed and scale) and constructs the
`Importer`, whose enum and super-enum dimensions are parsed on the driver.
The measured operation is one cold `Importer.run_import` into an empty
warehouse followed by `build_entity_tables`; then `run_import` re-runs on
the loaded warehouse until the run's seconds are spent (at least 5 times),
each of which must transact nothing.

Traced runs wrap the layers the import passes through (EDN source,
per-type transform, batching, idempotent load, metaschema) in spans and
force each layer's output right after it returns, so a layer's self time
is its span minus the span of its input.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from corpus import Corpus
from mix import STORE_TABLES
from spans import Stopwatch
from unittest import mock

ENTITY_TYPES = [
    "artists", "areleases", "areleases-artists", "labels", "releases",
    "releases-artists", "media",
]
MIN_REIMPORTS = 5


class Import:
    def __init__(self, spark, corpus: Corpus, basedir: str, workdir: str, tracer):
        self.spark = spark
        self.c = corpus
        self.basedir = basedir
        self.workdir = workdir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_parts: list[float] = []
        self.import_s: list[float] = []
        self.reimport_s: list[float] = []

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def setup(self, repeats: int) -> None:
        from mbrainz_importer_spark.pipeline import Importer
        from mbrainz_importer_spark.sources.edn_source import read_edn_entities
        from mbrainz_importer_spark import schema

        for _ in range(repeats):
            sw = Stopwatch()
            self.importer = Importer(self.spark, self.basedir)
            self.importer.enums.count()
            self.importer.supers.count()
            self.setup_parts.append(sw.seconds())
        # first-call warm-up of the executor-side EDN parser
        sw = Stopwatch()
        read_edn_entities(
            self.spark, self.importer.entities_file("labels"), schema.LABEL
        ).count()
        self.warmup_s = sw.seconds()

    def run(self, seconds: float) -> None:
        from mbrainz_importer_spark.plans.metaschema import build_entity_tables

        deadline = time.perf_counter() + seconds
        self.warehouse = os.path.join(self.workdir, "warehouse")
        self.tables_dir = os.path.join(self.workdir, "tables")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        tr = self.tracer
        sw = Stopwatch()
        try:
            with tr.span("pipeline.run_import", cold=True):
                first = self.importer.run_import(self.warehouse)
            with tr.span("metaschema.build_entity_tables"):
                build_entity_tables(self.spark, self.warehouse, self.importer, self.tables_dir)
        except Exception as exc:
            self._check(False, f"cold import: {exc!r}"[:300])
            return
        self.import_s.append(sw.seconds())
        self._check_first(first)
        while len(self.reimport_s) < MIN_REIMPORTS or time.perf_counter() < deadline:
            sw = Stopwatch()
            try:
                with tr.span("pipeline.run_import", cold=False):
                    again = self.importer.run_import(self.warehouse)
            except Exception as exc:
                self._check(False, f"re-import: {exc!r}"[:300])
                break
            self.reimport_s.append(sw.seconds())
            self._check(
                all(again[t] == {"txes": 0, "datoms": 0} for t in ENTITY_TYPES),
                f"re-import transacted something: {again}",
            )
        self._check_tables()

    # -- output checks (outside every timed region) ---------------------
    def _check_first(self, res: dict) -> None:
        c = self.c
        for t in ENTITY_TYPES:
            self._check(
                res.get(t) == {"txes": c.batches(t), "datoms": c.loaded_rows[t]},
                f"{t}: loaded {res.get(t)}, expected "
                f"{c.batches(t)} batches / {c.loaded_rows[t]} rows",
            )
        for t, n in c.dim_rows.items():
            self._check(res.get(t) == {"rows": n}, f"{t}: {res.get(t)} != {n} rows")

    def _check_tables(self) -> None:
        c = self.c

        def table(name):
            return pq.read_table(os.path.join(self.tables_dir, name)).to_pylist()

        for name, model in (("artist", c.artist), ("label", c.label),
                            ("abstract_release", c.arelease), ("release", c.release)):
            cols = [col for col, _ in STORE_TABLES[name][1]]
            got = {
                r["gid"]: {k: r[k] for k in cols if r.get(k) is not None}
                for r in table(name)
            }
            self._check(got == model, f"table {name}: content differs from the corpus")
        for name, key, model in (
            ("release_artists", "release_gid", c.release_artists),
            ("arelease_artists", "abstractRelease_gid", c.arelease_artists),
        ):
            links = {(r[key], r["artist_gid"]) for r in table(name)}
            self._check(links == model, f"table {name} differs from the corpus links")
        media = [m for r in table("release") for m in (r.get("media") or [])]
        n_tracks = sum(len(m["tracks"]) for m in media)
        self._check(len(media) == len(c.medium) and n_tracks == len(c.track),
                    f"release media: {len(media)} media / {n_tracks} tracks, expected "
                    f"{len(c.medium)} / {len(c.track)}")

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict:
        """Latencies of the operations that succeeded (a metric with no
        sample is left out)."""
        out = {}
        if self.import_s:
            out["op_latency_s"] = statistics.median(self.import_s)
        if self.reimport_s:
            out["side_latency_s"] = statistics.median(self.reimport_s)
        return out

    def samples(self) -> dict:
        return {"imports": len(self.import_s), "reimports": len(self.reimport_s)}

    def per_layer(self) -> dict:
        """Per-layer times of the cold import. Each layer's output was
        forced inside its span, so its self time is its span minus the
        spans of the layers called inside it and minus the forced
        execution of its input, which the forcing re-ran."""
        tr = self.tracer
        m: dict[str, float] = {}
        read = transform = batching = load = load_total = 0.0
        for t in ENTITY_TYPES:
            [lt] = tr.named("pipeline.load_type", type=t, cold=True)
            forced = tr.descendants(lt, "trace.force")
            # load time net of the tracer's own forcing of intermediate layers
            net = lt.dur - sum(f.dur for f in forced)
            m[f"pipeline.load_type_s.{t}"] = net
            m[f"pipeline.load_type_jobs.{t}"] = lt.jobs - sum(f.jobs for f in forced)
            load_total += net
            [r] = tr.descendants(lt, "edn_source.read")
            [x] = tr.descendants(lt, "transform")
            [b] = tr.descendants(lt, "batching")
            [ld] = tr.descendants(lt, "idempotency.load")
            read += r.dur
            transform += x.dur - _forced(tr, r)
            batching += b.dur - r.dur - x.dur - _forced(tr, x)
            load += ld.dur - _forced(tr, b)
        m["edn_source.read_s"] = read
        m["pipeline.parse_amplification"] = load_total / read
        m["transform.self_s"] = transform
        m["batching.self_s"] = batching
        m["idempotency.load_s"] = load
        m["idempotency.done_ids_s"] = tr.total("idempotency.done_ids", cold=False)
        m["metaschema.build_s"] = tr.total("metaschema.build_entity_tables")
        return m

    def instrument(self, stack) -> None:
        """Wrap the import's layers in spans and force each layer's output
        (traced runs only). Spans carry the entity type being loaded."""
        from mbrainz_importer_spark import pipeline
        from mbrainz_importer_spark.operators import idempotency

        tr = self.tracer
        state = {"type": None, "cold": True}

        def load_type(fn):
            def wrapper(imp, type_name, *a, **kw):
                state["type"] = type_name
                with tr.span("pipeline.load_type", type=type_name, cold=state["cold"]):
                    return fn(imp, type_name, *a, **kw)
            return wrapper

        def run_import(fn):
            def wrapper(imp, *a, **kw):
                state["cold"] = not os.path.exists(a[0] if a else kw["warehouse"])
                return fn(imp, *a, **kw)
            return wrapper

        def forced(name):
            def factory(fn):
                def wrapper(*a, **kw):
                    with tr.span(name, type=state["type"], cold=state["cold"]):
                        out = fn(*a, **kw)
                        tr.force(out)
                    return out
                return wrapper
            return factory

        def timed(name):
            def factory(fn):
                def wrapper(*a, **kw):
                    with tr.span(name, type=state["type"], cold=state["cold"]):
                        return fn(*a, **kw)
                return wrapper
            return factory

        for target, attr, factory in (
            (pipeline.Importer, "run_import", run_import),
            (pipeline.Importer, "load_type", load_type),
            (pipeline, "read_edn_entities", forced("edn_source.read")),
            (pipeline.Importer, "create_batches", forced("batching")),
            (idempotency, "load_envelopes", timed("idempotency.load")),
            (idempotency.IdempotentParquetSink, "done_ids", timed("idempotency.done_ids")),
        ):
            stack.enter_context(mock.patch.object(target, attr, factory(getattr(target, attr))))
        wrap = forced("transform")
        stack.enter_context(mock.patch.dict(
            pipeline.TRANSFORMS, {t: wrap(fn) for t, fn in pipeline.TRANSFORMS.items()}
        ))


def _forced(tr, span) -> float:
    return sum(f.dur for f in tr.children(span) if f.name == "trace.force")

