"""Streaming heavy hitters — Misra–Gries over micro-batches, the
mergeable-summaries property doing exactly what it was invented for:
each epoch's bounded summary (≤ capacity × partitions rows) appends
through the epoch ledger, and the READ side merges summaries
across every epoch — additive counts, additive error bounds — without
ever re-seeing the raw stream. A replayed epoch is skipped by the
ledger (streaming/exactly_once.py), so the merged estimate never double
counts. In the exact regime (capacity ≥ per-partition vocabulary) every
epoch error is 0 and the merged result EQUALS the batch count — the
property tests/test_sketch_stream.py pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.idempotency import BATCH_ID_COL, IdempotentParquetSink
from ..operators.sketch import mg_partials
from .exactly_once import drain, idempotent_foreach_batch


def mg_epoch_summary(
    batch_df: DataFrame, text_col: str, capacity: int
) -> DataFrame:
    """One epoch's merged MG summary: (token, cnt, epoch_err) — cnt is
    the epoch-local lower bound, epoch_err the epoch's summed partition
    decrements (repeated per row; the reader recovers it with max)."""
    partials = mg_partials(batch_df, text_col, capacity)
    err = partials.groupBy("pid").agg(F.max("err").alias("d")).agg(
        F.coalesce(F.sum("d"), F.lit(0)).cast("bigint").alias("epoch_err")
    )
    # null-token sentinel rows (all-evicted partitions) flow THROUGH to
    # storage — they carry error mass; dropping them before the sink
    # would lose an epoch's bound if every token was evicted. The read
    # side excludes them from token counts.
    return (
        partials.groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(err))
    )


def start_heavy_hitters(
    doc_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    capacity: int = 64,
) -> StreamingQuery:
    return drain(doc_stream, checkpoint, idempotent_foreach_batch(
        IdempotentParquetSink(out_path), "mg",
        lambda df: mg_epoch_summary(df, text_col, capacity),
    ))


def read_heavy_hitters(
    spark: SparkSession, out_path: str, k: int
) -> DataFrame:
    """Merge every epoch's summary: additive lower bounds, additive
    error (one epoch_err per stored epoch), top-k by (lower desc,
    token asc) — same contract as operators.sketch.heavy_hitters."""
    stored = spark.read.parquet(out_path)
    total_err = (
        stored.groupBy(BATCH_ID_COL)
        .agg(F.max("epoch_err").alias("d"))
        .agg(F.coalesce(F.sum("d"), F.lit(0)).cast("bigint").alias("total_err"))
    )
    merged = (
        stored.where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("count_lower"))
    )
    return (
        merged.join(F.broadcast(total_err))
        .withColumn(
            "count_upper",
            (F.col("count_lower") + F.col("total_err")).cast("bigint"),
        )
        .drop("total_err")
        .orderBy(F.col("count_lower").desc(), F.col("token"))
        .limit(k)
    )
