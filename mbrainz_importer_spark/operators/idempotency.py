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
algorithm 1) moves part files into the sink directory only at job commit
(uncommitted task files are invisible), so the sink only ever holds fully
committed batches. As it runs:

  - `committed_files` lists the sink's part files and sizes through the
    session's Hadoop FileSystem, without a Spark job. A sink with none is
    cold: `filter_new` returns its input unchanged, with no done-set read
    or broadcast. Otherwise it broadcast-anti-joins the input against
    `done_ids`.
  - `load_envelopes` anti-joins the batched rows and takes `{txes,
    datoms}` as observed metrics of the append itself, the reference's
    fold over the transactions it ran (batch.clj:115-135). The write is
    the one action.
  - `Importer.load_type` records the committed file listing in its
    completion marker; a re-run whose listing matches runs no Spark job.

No retry/backoff of its own: task retries (`spark.task.maxFailures`) plus
committer atomicity replace the reference's busy/unavailable/429/503 loop
(batch.clj:62-91), which exists because its sink is a remote transactor.
Sinks that DO commit per call (JDBC/REST/transactor via foreachBatch) get
that loop from `operators/retry.py`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from .progress import observed

BATCH_ID_COL = "batch_id"


def committed_files(spark: SparkSession, path: str) -> dict[str, int]:
    """{name: bytes} of the `part-*` files committed under `path`, listed
    through the session's Hadoop FileSystem: no Spark job, any scheme the
    sink accepts. A missing path lists as empty."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(jpath):
        return {}
    return {
        st.getPath().getName(): st.getLen()
        for st in fs.listStatus(jpath)
        if st.isFile() and st.getPath().getName().startswith("part-")
    }


@dataclass
class IdempotentParquetSink:
    """Append-only parquet table keyed by an embedded batch_id column."""

    path: str

    def done_ids(self, spark: SparkSession) -> DataFrame:
        """already-transacted (batch.clj:46-60): distinct batch ids present
        in the sink. Column-pruned scan — only batch_id pages are read."""
        try:
            return spark.read.parquet(self.path).select(BATCH_ID_COL).distinct()
        except AnalysisException:  # sink does not exist yet
            return spark.createDataFrame([], f"{BATCH_ID_COL} string")

    def filter_new(self, batches: DataFrame, spark: SparkSession) -> DataFrame:
        """filter-batches (batch.clj:42-44): drop already-loaded batches.
        A cold sink has nothing to drop; otherwise the done-set is small
        (one id per 100 entities) — broadcast anti."""
        if not committed_files(spark, self.path):
            return batches
        return batches.join(
            F.broadcast(self.done_ids(spark)), on=BATCH_ID_COL, how="left_anti"
        )

    def load(self, batches: DataFrame, spark: SparkSession) -> dict:
        """load-parallel analog (batch.clj:115-135) over member rows: write
        all not-yet-done batches; parallelism is partition-level. Returns
        {'txes': n_batches_written, 'datoms': n_rows_written} — the
        reference's result fold (G8)."""
        todo = self.filter_new(batches, spark)
        stats = todo.agg(
            F.countDistinct(BATCH_ID_COL).alias("txes"),
            F.count(F.lit(1)).alias("datoms"),
        ).collect()[0]
        if stats["txes"]:
            todo.write.mode("append").parquet(self.path)
        return {"txes": stats["txes"], "datoms": stats["datoms"]}


def load_envelopes(
    sink: IdempotentParquetSink, rows: DataFrame, spark: SparkSession
) -> dict:
    """Load batched rows (batch_id, data columns) in one action: the rows
    of not-yet-loaded batches are appended, and `{txes, datoms}` are
    observed on them in the write's result stage. Observed metrics reject
    DISTINCT, so `txes` is the size of the collected batch-id set: one
    entry per batch, as many as the done-set the anti-join broadcasts. A
    write that finds nothing new reports {0, 0} and still appends one
    schema-only part file."""
    todo, obs = observed(
        sink.filter_new(rows, spark), "load_envelopes",
        txes=F.size(F.collect_set(BATCH_ID_COL)),
        datoms=F.count(F.lit(1)),
    )
    todo.write.mode("append").parquet(sink.path)
    stats = obs.get
    return {"txes": stats["txes"], "datoms": stats["datoms"]}


@dataclass
class TxMetadataParquetSink(IdempotentParquetSink):
    """IdempotentParquetSink + a transaction-metadata table — the faithful
    model of the reference asserting the batch-id ON the transaction
    entity itself (`{:db/id "datomic.tx" tx-attr "prefix-N"}`,
    cognitect/xform/batch.clj:36-37): one tx row per committed batch,
    in its own table, not just a column on the facts.

    Scale win: the done-set query reads the TX table — O(batches) rows —
    instead of column-scanning batch_id over the whole fact sink
    (O(datoms) pages at 100 TB).

    Commit protocol (parquet has no cross-table transaction):
      1. `heal`: any batch present in DATA but missing from TX was
         committed by a run that crashed between the two appends (each
         append is committer-atomic, so its presence means ALL its rows
         are there) — register it in TX. One column-pruned data scan per
         RESTART, not per batch.
      2. anti-join incoming batches against the TX done-set;
      3. append data (commit point for the facts);
      4. append tx rows (commit point for the done-set).
    A crash at any step re-runs to the same final state: between 3 and 4
    the next heal registers; before 3 nothing is visible."""

    tx_path: str = ""

    def __post_init__(self):
        if not self.tx_path:
            self.tx_path = self.path.rstrip("/") + "_tx"

    def tx_table(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.parquet(self.tx_path)
        except AnalysisException:
            return spark.createDataFrame(
                [], f"{BATCH_ID_COL} string, n_datoms long"
            )

    def done_ids(self, spark: SparkSession) -> DataFrame:
        """Done-set from the tx table (tiny), NOT the fact sink."""
        return self.tx_table(spark).select(BATCH_ID_COL).distinct()

    def data_ids(self, spark: SparkSession) -> DataFrame:
        """Batch ids actually present in the fact sink (column-pruned)."""
        return super().done_ids(spark)

    def heal(self, spark: SparkSession) -> int:
        """Register data-committed batches missing from the tx table
        (crash between data append and tx append). Returns #healed."""
        missing = self.data_ids(spark).join(
            F.broadcast(self.done_ids(spark)), on=BATCH_ID_COL, how="left_anti"
        )
        if missing.isEmpty():
            return 0
        rows = (
            spark.read.parquet(self.path)
            .join(F.broadcast(missing), on=BATCH_ID_COL)
            .groupBy(BATCH_ID_COL)
            .agg(F.count(F.lit(1)).alias("n_datoms"))
        )
        n = rows.count()
        rows.write.mode("append").parquet(self.tx_path)
        return n

    def load(self, batches: DataFrame, spark: SparkSession) -> dict:
        self.heal(spark)
        todo = self.filter_new(batches, spark)
        stats = todo.agg(
            F.countDistinct(BATCH_ID_COL).alias("txes"),
            F.count(F.lit(1)).alias("datoms"),
        ).collect()[0]
        if stats["txes"]:
            todo.write.mode("append").parquet(self.path)
            tx_rows = todo.groupBy(BATCH_ID_COL).agg(
                F.count(F.lit(1)).alias("n_datoms")
            )
            tx_rows.write.mode("append").parquet(self.tx_path)
        return {"txes": stats["txes"], "datoms": stats["datoms"]}
