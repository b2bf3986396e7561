"""`serve` workload: datalog reads beside writes through one connection.

Set-up materialises the attribute-partitioned datom store from the corpus
tables (written as parquet by the benchmark, read and unpivoted by the
program) and opens a `Connection` on it. The measured loop is one
closed-loop client repeating one cycle until the run's seconds are spent:
one query of each kind of the mix; one write (a `:db/add` transaction on
fresh entities, read back with `conn.q`, so the read sees store plus
unindexed log); then `request_index` and one read-back of the first and
the latest write. Queries run over the store itself, which indexing only
extends with new attribute partitions, so their answers do not change.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import mix
from corpus import Corpus
from unittest import mock

from spans import StageTotals, Stopwatch

ENTITIES_PER_WRITE = 25  # two :db/add ops each -> 50 ops per transaction
Q_READ_BACK = """[:find ?e ?v :in $ [?tag ...]
  :where [?e :item/batch ?tag] [?e :item/val ?v]]"""


def write_store_tables(c: Corpus, out_dir: str) -> dict[str, str]:
    paths = {}
    rows = mix.store_rows(c)
    for table, (_, cols) in mix.STORE_TABLES.items():
        schema = pa.schema([(name, pa.type_for_alias(t)) for name, t in cols])
        data = {name: [r.get(name) for r in rows[table]] for name, _ in cols}
        path = os.path.join(out_dir, f"{table}.parquet")
        pq.write_table(pa.table(data, schema=schema), path)
        paths[table] = path
    return paths


def build_store(spark, c: Corpus, root: str) -> str:
    """Materialise the datom store under `root/store`; returns its path."""
    from mbrainz_importer_spark.plans.eav import build_datoms, materialize_datoms

    src = os.path.join(root, "tables")
    os.makedirs(src, exist_ok=True)
    paths = write_store_tables(c, src)
    datoms = build_datoms({
        t: (spark.read.parquet(p), mix.STORE_TABLES[t][0]) for t, p in paths.items()
    })
    store = os.path.join(root, "store")
    materialize_datoms(datoms, store)
    return store


class Serve:
    def __init__(self, spark, corpus: Corpus, seed: int, workdir: str, tracer):
        self.spark = spark
        self.c = corpus
        self.rng = random.Random(seed * 7919 + 1)
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.query_s: list[float] = []
        self.write_s: list[float] = []  # transact + read-back
        self.index_s: list[float] = []
        self.kind_s: dict[str, list[float]] = {k: [] for k in mix.KINDS}
        self.q_stats: list[dict] = []  # traced: per query construct/exec/jobs
        self.writes: list[tuple[str, set]] = []
        self.index_stats: list[dict] = []
        self._log_mark = 0
        self.setup_parts: list[float] = []

    # -- set-up ---------------------------------------------------------
    def setup(self, repeats: int) -> None:
        """Build the store `repeats` times into fresh roots (the last one
        is served); warm every query kind once."""
        from mbrainz_importer_spark.plans.client import Connection
        from mbrainz_importer_spark.plans.eav import read_datoms

        for i in range(repeats):
            sw = Stopwatch()
            root = os.path.join(self.workdir, f"db{i}")
            self.store_path = build_store(self.spark, self.c, root)
            self.setup_parts.append(sw.seconds())
        self.conn = Connection(self.spark, root)
        self.datoms = read_datoms(self.spark, self.store_path)
        warm = random.Random(self.seed)
        sw = Stopwatch()
        for kind in mix.KINDS:
            self._query(mix.make_query(kind, self.c, warm), record=False)
        self.warmup_s = sw.seconds()

    # -- operations -----------------------------------------------------
    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def _query(self, query: mix.Query, record: bool = True) -> None:
        from mbrainz_importer_spark.plans import datalog
        from mbrainz_importer_spark.plans.pull import pull_entities
        from mbrainz_importer_spark.plans.query_edn import edn_query

        tr = self.tracer
        pre = StageTotals.harvest(self.spark) if tr.enabled and record else None
        sw = Stopwatch()
        try:
            with tr.span("serve.query", kind=query.kind) as span:
                if query.pull_spec is not None:
                    with tr.span("pull.construct"):
                        df = pull_entities(self.datoms, query.pull_spec)
                else:
                    with tr.span("query_edn.parse"):
                        qd = edn_query(query.text)
                    with tr.span("datalog.compile"):
                        df = datalog.q(qd, self.datoms, *query.params)
                with tr.span("spark.exec"):
                    rows = df.collect()
            dt = sw.seconds()
            got = mix.answer(rows, query)
        except Exception as exc:  # counted as a failed operation
            if record:
                self._check(False, f"{query.kind}: {exc!r}"[:300])
            return
        if not record:
            return
        self._check(got == query.expected, f"{query.kind}{query.params}: wrong answer")
        self.query_s.append(dt)
        self.kind_s[query.kind].append(dt)
        if pre is not None:
            d = StageTotals.harvest(self.spark) - pre
            kids = {k.name: k.dur for k in tr.children(span)}
            self.q_stats.append({
                "kind": query.kind,
                "parse_s": kids.get("query_edn.parse", 0.0),
                "compile_s": kids.get("datalog.compile", kids.get("pull.construct", 0.0)),
                "exec_s": kids["spark.exec"],
                "jobs": span.jobs,
                "input_mb": d.input_mb,
                "input_records": d.input_records,
                "rows": len(rows),
            })

    def _read_back(self, tags: list[str], expected: set) -> bool:
        with self.tracer.span("client.q"):
            rows = self.conn.q(Q_READ_BACK, tags).collect()
        return {(r[0], mix.norm(r[1])) for r in rows} == expected

    def _write(self, w: int) -> None:
        tag = f"s{self.seed}-w{w}"
        tx, expected = [], set()
        for i in range(ENTITIES_PER_WRITE):
            e = f"item:{tag}-{i}"
            v = self.rng.randrange(10**6)
            tx.append([":db/add", e, ":item/batch", tag])
            tx.append([":db/add", e, ":item/val", v])
            expected.add((e, str(v)))
        sw = Stopwatch()
        try:
            with self.tracer.span("client.transact"):
                report = self.conn.transact(tx)
            ok = self._read_back([tag], expected)
        except Exception as exc:
            self._check(False, f"write {tag}: {exc!r}"[:300])
            return
        self.write_s.append(sw.seconds())
        self._check(ok and report["n_ops"] == 2 * ENTITIES_PER_WRITE,
                    f"write {tag}: read-back before index differs")
        self.writes.append((tag, expected))

    def _index(self) -> None:
        from mbrainz_importer_spark.plans.eav import store_file_census

        before = store_file_census(self.store_path)
        log_new = _dir_bytes(self.conn.log_path) - self._log_mark
        sw = Stopwatch()
        try:
            with self.tracer.span("client.request_index"):
                self.conn.request_index()
        except Exception as exc:
            self._check(False, f"index: {exc!r}"[:300])
            return
        self.index_s.append(sw.seconds())
        self._log_mark = _dir_bytes(self.conn.log_path)
        after = store_file_census(self.store_path)
        changed = [p for p, v in after.items() if before.get(p) != v]
        self.index_stats.append({
            "partitions": len(changed),
            "bytes": sum(after[p]["bytes"] for p in changed),
            "log_bytes": log_new,
        })
        # both the first and the latest write must survive indexing
        if not self.writes:
            return
        survivors = dict(self.writes[:1] + self.writes[-1:])
        try:
            ok = self._read_back(list(survivors), set().union(*survivors.values()))
        except Exception as exc:
            self._check(False, f"read-back after index: {exc!r}"[:300])
            return
        self._check(ok, f"read-back of {sorted(survivors)} after index differs")

    # -- the measured loop ----------------------------------------------
    def run(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        cycle = 0
        # whole cycles only, so every run holds queries, a write and an index
        while cycle == 0 or time.perf_counter() < deadline:
            for kind in mix.KINDS:
                self._query(mix.make_query(kind, self.c, self.rng))
            self._write(cycle)
            self._index()
            cycle += 1

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict:
        """Latencies of the operations that succeeded (a metric with no
        sample is left out)."""
        out = {}
        kinds = [statistics.median(xs) for xs in self.kind_s.values() if xs]
        if kinds:
            # each kind's median, averaged over the kinds of the mix: a
            # median over the pooled queries jumps between kinds whose
            # latencies differ by 4x
            out["op_latency_s"] = statistics.mean(kinds)
        if self.write_s:
            out["side_latency_s"] = statistics.median(self.write_s)
        return out

    def samples(self) -> dict:
        return {
            "queries": len(self.query_s), "writes": len(self.write_s),
            "indexes": len(self.index_s),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        qs = self.q_stats
        med = statistics.median
        rows_returned = sum(q["rows"] for q in qs)
        m = {
            "query_edn.parse_s": med(q["parse_s"] for q in qs),
            "datalog.compile_s": med(q["compile_s"] for q in qs),
            "spark.exec_s": med(q["exec_s"] for q in qs),
            "spark.jobs_per_query": statistics.mean(q["jobs"] for q in qs),
            "eav.input_mb_per_query": statistics.mean(q["input_mb"] for q in qs),
            "eav.rows_scanned_per_row_returned":
                sum(q["input_records"] for q in qs) / max(1, rows_returned),
            "client.transact_s": med(s.dur for s in tr.named("client.transact")),
            "client.transact_jobs": med(s.jobs for s in tr.named("client.transact")),
            "client.basis_t_s": _span_median(tr, "client.basis_t"),
            "client.log_files": sum(
                1 for f in os.listdir(self.conn.log_path) if f.endswith(".parquet")
            ),
            "client.db_s": _span_median(tr, "client.db"),
            "client.q_s": _span_median(tr, "client.q"),
            "client.request_index_s": _span_median(tr, "client.request_index"),
            "tx_fns.transact_s": _span_median(tr, "tx_fns.transact"),
            "eav.merge_s": _span_median(tr, "eav.merge_datoms_increment"),
            "eav.store_bytes_rewritten": statistics.mean(s["bytes"] for s in self.index_stats),
            "eav.partitions_touched": statistics.mean(s["partitions"] for s in self.index_stats),
            "eav.write_amplification": sum(s["bytes"] for s in self.index_stats)
            / sum(s["log_bytes"] for s in self.index_stats),
        }
        for kind, xs in self.kind_s.items():
            m[f"serve.{kind}_p50_s"] = med(xs) if xs else 0.0
        return m

    def instrument(self, stack) -> None:
        """Wrap the client's inner layers in spans (traced runs only)."""
        from mbrainz_importer_spark.plans import client, eav, tx_fns

        tr = self.tracer

        def spanned(name):
            def factory(fn):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return fn(*a, **kw)
                return wrapper
            return factory

        for target, attr, name in (
            (client.Connection, "basis_t", "client.basis_t"),
            (client.Connection, "db", "client.db"),
            (tx_fns, "transact", "tx_fns.transact"),
            (eav, "merge_datoms_increment", "eav.merge_datoms_increment"),
        ):
            wrapped = spanned(name)(getattr(target, attr))
            stack.enter_context(mock.patch.object(target, attr, wrapped))


def _span_median(tr, name: str) -> float:
    spans = tr.named(name)
    return statistics.median(s.dur for s in spans) if spans else 0.0


def _dir_bytes(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        if f.endswith(".parquet")
    )
