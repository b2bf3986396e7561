"""Import DAG orchestration (SURVEY.md §3.1–§3.3, §7.2 M2).

The reference's entry point A: sequential stages in `import-order`
(importer.clj:40-44), each internally parallel. Stages here:

  dim/config stages (schema, enums, super-enums) — tiny, driver-parsed
  like the reference's slurp (importer.clj:257-269), then broadcast.

  entity stages — distributed: EDN source -> per-type transform (broadcast
  dim resolution) -> one zero-miss guard on the persisted frame ->
  deterministic batching -> rows with their batch_id -> idempotent sink.

The intermediate "batch file" of the reference (subsets/batches/*.edn) is
the sink itself here: each row carries its batch_id column. Only
`batch_tx_data` regroups rows into the envelope shape {batch_id, data},
for golden-format parity.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema as SCH
from .operators.batching import assign_batch_ids
from .operators.enums import assert_no_misses, enums_dim, super_enums_dim
from .operators.transform import TRANSFORMS, to_tx_data
from .sources import local_path
from .sources.edn_source import read_edn_entities, read_edn_forms_local

IMPORT_ORDER = [
    "schema", "enums", "super-enums", "artists", "areleases",
    "areleases-artists", "labels", "releases", "releases-artists", "media",
]  # importer.clj:40-44

BATCH_ID_ATTR = ":mbrainz.initial-import/batch-id"  # importer.clj:277
DEFAULT_BATCH_SIZE = 100  # importer/batch.clj:14 "suggest 100"

DIM_STAGES = frozenset({"schema", "enums", "super-enums"})

IMPORT_MARKER = "_IMPORT_COMPLETE.json"


def read_marker(sink_path: str) -> dict | None:
    """The completion marker `load_type` wrote under `sink_path`, or None."""
    path = f"{local_path(sink_path)}/{IMPORT_MARKER}"
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


@dataclass
class Importer:
    """Analog of ImporterImpl (importer.clj:203-255): basedir + broadcastable
    dimension DataFrames."""

    spark: SparkSession
    basedir: str
    enums: DataFrame = field(init=False)
    supers: DataFrame = field(init=False)
    # frames persisted by the open stage (None outside `stage()`)
    _held: list[DataFrame] | None = field(init=False, default=None, repr=False)

    def __post_init__(self) -> None:
        self.enums = enums_dim(self.spark, f"{self.basedir}/entities/enums.edn").cache()
        self.supers = super_enums_dim(self.spark, self.basedir).cache()

    # -- sources ----------------------------------------------------------
    def entities_file(self, type_name: str) -> str:
        return f"{self.basedir}/entities/{type_name}.edn"

    def read_entities(self, type_name: str) -> DataFrame:
        return read_edn_entities(
            self.spark, self.entities_file(type_name), SCH.ENTITY_SCHEMAS[type_name]
        )

    # -- dim/config stages (driver-side, tiny) ----------------------------
    def dim_tx_data(self, type_name: str) -> list[dict]:
        """tx-data rows for schema/enums/super-enums stages
        (cat importer.clj:229; enums->tx-data :190-196;
        super-enums->tx-data :198-201)."""
        if type_name == "schema":
            forms = read_edn_forms_local(self.entities_file("schema"))
            return [m for form in forms for m in form]  # `cat` splice
        if type_name == "enums":
            [raw] = read_edn_forms_local(self.entities_file("enums"))
            out = []
            for mapping in raw.values():
                for str_val, ident in mapping.items():
                    ns = ident[1:].rsplit("/", 1)[0]
                    out.append({":db/ident": ident, f":{ns}/name": str_val})
            return out
        if type_name == "super-enums":
            out = []
            for fname in ("countries.edn", "langs.edn", "scripts.edn"):
                [raw] = read_edn_forms_local(f"{self.basedir}/entities/{fname}")
                out.extend(raw.values())
            return out
        raise KeyError(type_name)

    def dim_batches(self, type_name: str, batch_size: int = DEFAULT_BATCH_SIZE) -> list[dict]:
        """Envelope list for a dim/config stage (driver-side G3)."""
        rows = self.dim_tx_data(type_name)
        out = []
        for i in range(0, len(rows), batch_size):
            out.append({
                "batch_id": f"{type_name}-{i // batch_size + 1}",
                "data": rows[i : i + batch_size],
            })
        return out

    # -- entity stages (distributed) --------------------------------------
    @contextmanager
    def stage(self) -> Iterator[None]:
        """Scope of one entity stage. Inside it, `transformed` persists the
        parsed source and the transformed frame, so every action of the
        stage (miss guard, batching, write) reads each file's parse once;
        on exit, by any path, both are released. Outside a stage
        `transformed` returns the plain lazy plan."""
        self._held = held = []
        try:
            yield
        finally:
            self._held = None
            for df in reversed(held):  # dependents before their inputs
                df.unpersist()

    def _keep(self, df: DataFrame) -> DataFrame:
        if self._held is None:
            return df
        self._held.append(df)
        return df.persist()

    def transformed(self, type_name: str) -> DataFrame:
        """EDN source -> per-type transform with dim resolution -> the miss
        guard over the transform's `__miss_*` indicators, which are dropped.
        Inside a `stage()` both frames are persisted, and the guard, where
        the type resolves a dim, is the stage's first action: it fills both
        caches, so the dims are broadcast once per stage."""
        raw = self._keep(self.read_entities(type_name))
        return assert_no_misses(
            self._keep(TRANSFORMS[type_name](raw, self.enums, self.supers))
        )

    def create_batches(
        self, type_name: str, batch_size: int = DEFAULT_BATCH_SIZE
    ) -> DataFrame:
        """Entry point B (create-batch-file, importer.clj:279-296):
        transform + deterministic batching.
        Returns DataFrame[batch_id, <data cols>, _rn], the sink's rows."""
        t = self.transformed(type_name)
        data_cols = [c for c in t.columns if c != "_row_idx"]
        batched = assign_batch_ids(t, batch_size, type_name, ["_row_idx"])
        # carry the global row number as `_rn`: the load phase persists it
        # so unique-identity upserts (J2) have Datomic's later-assertion-wins
        # order available (duplicate gids in a stream merge in stream order;
        # see plans.metaschema compaction)
        return batched.select("batch_id", *data_cols, F.col("rn").alias("_rn"))

    # -- load phase (entry point C, importer.clj:298-316) ------------------
    def load_type(
        self, type_name: str, warehouse: str, batch_size: int = DEFAULT_BATCH_SIZE
    ) -> dict:
        """Idempotent load of one entity stage into the warehouse:
        batched rows -> anti-join against already-loaded ids -> append with
        batch_id atomic-with-data. Re-running is a no-op ({'txes': 0}).

        Fast path: a completed load writes a marker listing the sink's
        committed part files and their sizes, and the `schema` of the rows
        it wrote (`plans.metaschema` reads the sink with it). A re-run whose
        listing equals the marker's returns {'txes': 0, 'datoms': 0} without
        a Spark job (the reference's already-transacted gate,
        batch.clj:46-60, applied before any work). Any other listing (a
        crashed run, a missing, added or resized file) or a marker without
        `files` or `schema` takes the anti-join path, and the marker is
        rewritten after its write.

        Batch-size guard: batch ids like 'artists-1' denote different row
        sets at different batch sizes, so loading into a sink that was
        started at another batch_size would silently duplicate/skip rows —
        the hazard the reference README warns about ('Never import at
        different batch sizes into the same db'). The requested size is
        recorded at load START (so crashed runs are covered too) and any
        mismatch raises instead of proceeding.

        A cold load is one frame from source to sink, run in one `stage()`:
        transform, guard the persisted transformed frame once, number its
        rows, append them. Both persisted frames are released when the
        write returns or anything raises (an enum miss included)."""
        from .operators.idempotency import (
            IdempotentParquetSink,
            committed_files,
            load_envelopes,
        )

        sink_path = local_path(f"{warehouse}/loaded/{type_name}")
        size_file = f"{sink_path}/_BATCH_SIZE.json"
        sink = IdempotentParquetSink(sink_path)
        marker = read_marker(sink_path)
        recorded = None
        if os.path.exists(size_file):
            with open(size_file, encoding="utf-8") as fh:
                recorded = json.load(fh)["batch_size"]
        elif marker is not None:  # sinks predating the size file
            recorded = marker["batch_size"]
        if recorded is not None and recorded != batch_size:
            raise ValueError(
                f"{type_name}: sink {sink_path} was loaded with "
                f"batch_size={recorded}; re-importing at batch_size="
                f"{batch_size} would corrupt batch identity — use a fresh "
                "warehouse or the original batch size"
            )
        if (
            marker is not None and "schema" in marker
            and marker.get("files") == committed_files(sink_path)
        ):
            return {"txes": 0, "datoms": 0}

        os.makedirs(sink_path, exist_ok=True)
        if not os.path.exists(size_file):
            with open(size_file, "w", encoding="utf-8") as fh:
                json.dump({"batch_size": batch_size}, fh)

        with self.stage():
            rows = self.create_batches(type_name, batch_size)
            result = load_envelopes(sink, rows, self.spark)
        with open(f"{sink_path}/{IMPORT_MARKER}", "w", encoding="utf-8") as fh:
            json.dump({
                "batch_size": batch_size,
                "files": committed_files(sink_path),
                "schema": rows.schema.jsonValue(),
            }, fh)
        return result

    def run_import(
        self, warehouse: str, batch_size: int = DEFAULT_BATCH_SIZE,
        import_order: list[str] | None = None,
    ) -> dict[str, dict]:
        """Entry point A (-main, importer.clj:318-352): sequential stage DAG,
        each stage internally parallel and idempotent. Stages whose entity
        file is absent (media in the stripped reference) are skipped with a
        marker. Dim/config stages are metadata, not fact loads — recorded
        with driver-side row counts."""
        order = import_order or IMPORT_ORDER
        unknown = [t for t in order if t not in DIM_STAGES and t not in TRANSFORMS]
        if unknown:
            raise KeyError(
                f"unknown import stage(s) {unknown}; valid: {IMPORT_ORDER}"
            )
        results: dict[str, dict] = {}
        for type_name in order:
            if type_name in DIM_STAGES:
                results[type_name] = {"rows": len(self.dim_tx_data(type_name))}
                continue
            if not os.path.exists(self.entities_file(type_name)):
                results[type_name] = {"skipped": "entity file absent"}
                continue
            results[type_name] = self.load_type(type_name, warehouse, batch_size)
        return results

    def batch_tx_data(self, type_name: str, batch_size: int = DEFAULT_BATCH_SIZE) -> list[dict]:
        """Envelopes as the reference's EDN shape (golden comparison):
        [{batch_id, data: [tx-map, ...]}, ...] in batch order."""
        if type_name in DIM_STAGES:
            return self.dim_batches(type_name, batch_size)
        with self.stage():
            rows = self.create_batches(type_name, batch_size).orderBy("_rn").collect()
        out: list[dict] = []
        for r in rows:  # consecutive in `_rn` order: one batch after another
            member = r.asDict(recursive=True)
            batch_id = member.pop("batch_id")
            if not out or out[-1]["batch_id"] != batch_id:
                out.append({"batch_id": batch_id, "data": []})
            out[-1]["data"].append(to_tx_data(type_name, member))
        return out
