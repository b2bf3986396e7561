"""Streaming covariance-moment maintenance — the PCA tier's ingest
path, the same mergeable-summaries recipe as sketch_stream: each
micro-batch reduces to its bounded moments frame (d(d+1)/2 rows of
exact sums — operators/pca.integer_moments), appends through the epoch
ledger (streaming/exactly_once.py), and the READ side merges epochs by
addition (operators/pca.merge_integer_moments semantics, inlined as one
groupBy). The raw vector stream is never re-seen; the covariance /
PCA fit over the whole history is always one tiny aggregation away.

Moment sums are not idempotent — a replayed epoch would double-count
silently — so the ledger is the correctness mechanism, and the replay
test pins it.

Quantization contract: pass the SQ8 grid (lo, hi) trained offline to
run the certified integer regime (the fixed-artifact rule — a grid
re-trained mid-stream would change code values and make historical
sums meaningless); omit it to fold raw float vectors (production face,
exact while values are integer-representable sums below 2^53)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.idempotency import IdempotentParquetSink
from ..operators.pca import integer_moments
from ..operators.quantize import sq8_code
from .exactly_once import drain, idempotent_foreach_batch


def moments_epoch_summary(
    batch_df: DataFrame,
    vec_col: str,
    dim: int,
    lo: list[float] | None = None,
    hi: list[float] | None = None,
) -> DataFrame:
    """One epoch's bounded moments frame (i, j, sxy, sx, sy, n)."""
    if (lo is None) != (hi is None):
        raise ValueError("pass both lo and hi, or neither")
    if lo is not None:
        batch_df = batch_df.select(
            sq8_code(F.col(vec_col), lo, hi).alias(vec_col)
        )
    return integer_moments(batch_df, vec_col, dim)


def start_moments_ingest(
    vec_stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    dim: int = 64,
    lo: list[float] | None = None,
    hi: list[float] | None = None,
    prefix: str = "mom",
) -> StreamingQuery:
    return drain(vec_stream, checkpoint, idempotent_foreach_batch(
        IdempotentParquetSink(sink_path), prefix,
        lambda df: moments_epoch_summary(df, vec_col, dim, lo, hi),
    ))


def read_merged_moments(spark: SparkSession, sink_path: str) -> DataFrame:
    """The whole history's moments: epoch summaries merged by addition —
    same frame shape integer_moments produces on a single pass, so
    covariance/PCA fitting code is indifferent to how the moments were
    built (batch, incremental merge, or this stream)."""
    return (
        spark.read.parquet(sink_path)
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("n").alias("n"),
        )
    )
