"""Streaming transactor — a stream of datom operations ingested into
the DURABLE tx log, with time-travel reads over the accumulating
store: the streaming face of plans/history.py's (d/with / as-of /
since / tx-range) world, completing the loop that tx_watch.py reads
reports FROM.

Shape:
- the incoming stream carries (e, a, v_num, tx, added) ops — a
  transaction id stamped upstream (the import pipeline's batch ids, or
  any monotonic epoch counter);
- each micro-batch appends through the epoch ledger
  (streaming/exactly_once.py), so a replayed epoch never double-writes
  ops;
- the accumulated parquet IS a history log: read_tx_log hands it to
  as_of / since / history / tx_range unchanged, so a query at any t
  sees exactly the transactions ingested up to t — stream==batch
  equality is structural (same log rows, same operators) and pinned in
  tests/test_tx_ingest.py.

At scale the sink appends epoch-sized parquet files; compact_log
rewrites the accumulated log attribute-partitioned (materialize_log's
layout) so attribute-scoped reads prune — the background "indexing
job" of the reference's transactor, run on whatever cadence suits the
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.idempotency import IdempotentParquetSink
from .exactly_once import drain, idempotent_foreach_batch

LOG_COLS = ["e", "a", "v_num", "tx", "added"]


def start_tx_ingest(
    op_stream: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Drain an op stream into the durable log at `out_path`."""
    return drain(op_stream, checkpoint, idempotent_foreach_batch(
        IdempotentParquetSink(out_path), "tx", lambda df: df.select(*LOG_COLS)
    ))


def read_tx_log(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated log, history-operator-shaped: feed to as_of /
    since / history / tx_range / log_datoms directly."""
    return spark.read.parquet(out_path).select(*LOG_COLS)


def log_as_store_ops(log: DataFrame) -> DataFrame:
    """Project the durable log into the op shape the current-state
    index merge consumes (plans/eav.py:merge_datoms_increment): the
    log carries numeric values only, so `v` is derived with
    table_datoms' canonical numeric formatting (integers print without
    a decimal point) — retractions then match the store's stored
    (e, a, v) exactly. This is the glue of the full transactor loop:
    stream → durable log → background indexing into the EAV store."""
    v = F.regexp_replace(F.col("v_num").cast("string"), r"\.0$", "")
    return log.select(
        "e", "a", v.alias("v"), "v_num", "tx", "added"
    )


def start_store_indexing(
    op_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    card_many: frozenset[str] | set[str] = frozenset(),
) -> StreamingQuery:
    """CONTINUOUS indexing: every op micro-batch folds straight into
    the current-state attribute-partitioned store
    (plans/eav.merge_datoms_increment) — the streaming face of the
    background index job, for deployments that want the store fresh
    per micro-batch instead of on a compaction cadence. The merge is
    content-idempotent (set semantics + max-tx displacement). Each
    batch rewrites only the attribute partitions it touches."""
    from ..plans.eav import merge_datoms_increment

    def index(batch_df: DataFrame, epoch_id: int) -> None:
        merge_datoms_increment(
            batch_df.sparkSession,
            store_path,
            log_as_store_ops(batch_df.select(*LOG_COLS)),
            card_many,
        )

    return drain(op_stream, checkpoint, index)


DATOM_OP_COLS = ["e", "a", "v", "v_num", "tx", "added"]


def start_datom_ingest(
    op_stream: DataFrame,
    table: str,
    checkpoint: str,
    card_many: frozenset[str] | set[str] = frozenset(),
    max_files_per_bucket: int = 2,
) -> StreamingQuery:
    """Streaming indexing into the ENTITY-BUCKETED datom store — the
    face that closes the store's last batch-only maintenance surface
    (the flat fact layout got its streaming cycle in
    layout_ingest.py; the catalog-table datom store ingested via batch
    merges only). Each micro-batch of full (e, a, v, v_num, tx, added)
    ops folds through `merge_datoms_increment_bucketed`: the write-once
    partition swap with its crash-heal manifest on entry, partition
    registrations synced, touched-partitions-only cost. The compaction
    CADENCE runs inside the sink (`compact_store_if_due`) — a tripwire,
    not a scheduled rewrite: the merge path keeps every touched
    partition at exactly n_buckets single-file sorted buckets, so a
    healthy store is never due and the census is the only per-epoch
    price.

    The merge is content-idempotent, as in `start_store_indexing`;
    the swap manifest covers crash windows inside a single merge.

    Reader contract: foreachBatch runs on a CLONED session, whose
    refreshTable cannot invalidate another session's relation cache —
    exactly the situation of any external writer against a shared
    metastore. A session that read the table BEFORE the stream ran must
    `spark.catalog.refreshTable(table)` before reading again (pinned in
    test_index_merge); fresh sessions and first reads need nothing."""
    from ..plans.eav import (
        compact_store_if_due,
        merge_datoms_increment_bucketed,
    )

    def index(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        merge_datoms_increment_bucketed(
            spark, table, batch_df.select(*DATOM_OP_COLS), card_many
        )
        compact_store_if_due(
            spark, table, max_files_per_bucket=max_files_per_bucket
        )

    return drain(op_stream, checkpoint, index)


def compact_log(spark: SparkSession, out_path: str, store_path: str) -> None:
    """Rewrite the accumulated epoch files attribute-partitioned
    (history.materialize_log layout) — the periodic index job that
    turns append-order storage into pruned attribute scans."""
    from ..plans.history import materialize_log

    materialize_log(read_tx_log(spark, out_path), store_path)
