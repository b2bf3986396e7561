"""Exactly-once idempotent batch loading (SURVEY.md §2.1 K2/K3, §2.7, §3.3).

The reference's protocol (cognitect/xform/batch.clj:42-60,93-101;
importer.clj:298-316):

  1. query the target for already-loaded batch ids       (already-transacted)
  2. anti-join the incoming batch stream against them    (filter-batches, J5)
  3. write each batch with its batch-id asserted atomically WITH the data
     (`(cons batch-ident data)` — same transaction)
  4. a concurrent-duplicate conflict is swallowed as already-applied

Here the batch_id is a column on every row, so a parquet append carries a
batch's id atomically with its data, and the done-set is recomputed from
the sink itself. Spark's default output committer (FileOutputCommitter,
algorithm 1) renames part files into the sink directory only at job
commit, so the sink only ever holds fully committed batches. That
rename is atomic on a local filesystem, which is what the protocol
relies on.

There is one write, `IdempotentParquetSink.append`: one action, with
`{txes, datoms}` observed on the append itself, the reference's fold
over the transactions it ran (batch.clj:115-135). `Importer.load_type`
reaches it through `load_envelopes`, which first anti-joins the batched
rows against the done-set. A streaming epoch carries one batch id, so
its ledger (streaming/exactly_once.py) asks `holds` instead and skips
the epoch whole. A sink with no committed part file is cold: neither
check reads it.

`committed_files` lists those part files on the driver with
`os.scandir`, as `load_type` reads and writes its completion marker and
batch-size file with `open()`: the sink is a local directory. The
marker records the listing, so a re-run whose listing matches runs no
Spark job. A path with a remote scheme is refused, not listed as empty,
because an empty listing reads as a cold sink and would drop the dedup
on replay.

No retry/backoff of its own: task retries (`spark.task.maxFailures`) plus
committer atomicity replace the reference's busy/unavailable/429/503 loop
(batch.clj:62-91), which exists because its sink is a remote transactor.
Sinks that DO commit per call (JDBC/REST/transactor via foreachBatch) get
that loop from `operators/retry.py`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import local_path
from .progress import observe_metrics, observed

BATCH_ID_COL = "batch_id"


def committed_files(path: str) -> dict[str, int]:
    """{name: bytes} of the `part-*` files committed under the local sink
    `path` (a plain path or a `file:` URI), listed on the driver with no
    Spark job. A missing path lists as empty; any other scheme raises
    `ValueError`."""
    local = local_path(path)
    if urlsplit(local).scheme:
        raise ValueError(f"sink {path!r} is not a local path")
    try:
        with os.scandir(local) as entries:
            return {
                e.name: e.stat().st_size
                for e in entries
                if e.name.startswith("part-") and e.is_file()
            }
    except FileNotFoundError:
        return {}


@dataclass
class IdempotentParquetSink:
    """Append-only parquet table keyed by an embedded batch_id column."""

    path: str

    def _batch_ids(self, spark: SparkSession) -> DataFrame:
        # one known column: no schema-inference job
        return spark.read.schema(f"{BATCH_ID_COL} string").parquet(self.path)

    def done_ids(self, spark: SparkSession) -> DataFrame:
        """already-transacted (batch.clj:46-60): distinct batch ids present
        in the sink, which holds at least one committed part file.
        Column-pruned scan — only batch_id pages are read."""
        return self._batch_ids(spark).distinct()

    def holds(self, spark: SparkSession, batch_id: str) -> bool:
        """Whether a committed part file carries `batch_id`: no job on a
        cold sink, else one scan with no exchange."""
        if not committed_files(self.path):
            return False
        hits = self._batch_ids(spark).where(F.col(BATCH_ID_COL) == batch_id)
        return observe_metrics(hits, "holds", rows=F.count(F.lit(1)))["rows"] > 0

    def filter_new(self, batches: DataFrame, spark: SparkSession) -> DataFrame:
        """filter-batches (batch.clj:42-44): drop already-loaded batches.
        A cold sink has nothing to drop; otherwise the done-set is small
        (one id per 100 entities) — broadcast anti."""
        if not committed_files(self.path):
            return batches
        return batches.join(
            F.broadcast(self.done_ids(spark)), on=BATCH_ID_COL, how="left_anti"
        )

    def append(self, rows: DataFrame) -> dict:
        """Append batched rows (batch_id, data columns) in one action, with
        `{txes, datoms}` observed in the write's result stage. Observed
        metrics reject DISTINCT, so `txes` is the size of the collected
        batch-id set: one entry per batch. An empty frame reports {0, 0}
        and still appends a schema-only part file."""
        todo, obs = observed(
            rows, "load_envelopes",
            txes=F.size(F.collect_set(BATCH_ID_COL)),
            datoms=F.count(F.lit(1)),
        )
        todo.write.mode("append").parquet(self.path)
        stats = obs.get
        return {"txes": stats["txes"], "datoms": stats["datoms"]}


def load_envelopes(
    sink: IdempotentParquetSink, rows: DataFrame, spark: SparkSession
) -> dict:
    """Load batched rows (batch_id, data columns): the rows of
    not-yet-loaded batches are appended in one action, which returns
    `{txes, datoms}`. A load that finds nothing new reports {0, 0} and
    still appends one schema-only part file."""
    return sink.append(sink.filter_new(rows, spark))
