"""Streaming quality scoring — the foreachBatch face of the per-row
quality signals (hashed-linear classifier score + zlib compression
ratio + keep verdict): a document stream is scored micro-batch by
micro-batch and the verdicts append through the epoch ledger
(streaming/exactly_once.py), so a replayed or retried batch never
duplicates a verdict row.

Both signals are pure per-row projections (no state, no shuffle), so
per-batch cost is O(batch) with nothing carried between epochs — the
simplest possible streaming operator, included because a production
crawl pipeline scores documents ON ARRIVAL rather than re-scanning the
corpus nightly; the batch and streaming faces share the exact same
operator code, so stream == batch is a structural identity, asserted
in tests/test_quality_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.classifier import linear_text_scores
from ..operators.compress import compression_ratios
from ..operators.idempotency import IdempotentParquetSink
from .exactly_once import drain, idempotent_foreach_batch


def score_batch(
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
    min_ratio: float = 0.05,
    max_ratio: float = 1.05,
) -> DataFrame:
    """One batch's verdict table: classifier score + compression ratio
    + the combined keep flag. Shared verbatim by the batch face and
    every micro-batch, so the two can never drift."""
    scored = linear_text_scores(batch_df, text_col).select(
        id_col, "score_int", "n_tokens", "score"
    )
    ratios = compression_ratios(batch_df, id_col, text_col).select(
        id_col, "compression_ratio"
    )
    return (
        scored.join(ratios, id_col)
        .withColumn(
            "keep",
            (F.col("score") > F.lit(threshold))
            & F.col("compression_ratio").between(min_ratio, max_ratio),
        )
    )


def start_quality_scoring(
    doc_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
) -> StreamingQuery:
    """Drain a document stream through the scorer into `out_path`."""
    return drain(doc_stream, checkpoint, idempotent_foreach_batch(
        IdempotentParquetSink(out_path), "qs",
        lambda df: score_batch(df, id_col, text_col, threshold),
    ))


def read_verdicts(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated verdict table."""
    return spark.read.parquet(out_path).select(
        "doc_id", "score_int", "n_tokens", "score", "compression_ratio", "keep"
    )
