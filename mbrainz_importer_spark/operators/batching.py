"""Deterministic order-dependent batching (SURVEY.md §2.3 G3, §4.1).

The reference numbers fixed-size batches with a stateful counter over a
single ordered stream (tx-data->batches, cognitect/xform/batch.clj:31-40).
Spark has no implicit stream order, so the order is an explicit sort key —
and a naive `row_number().over(Window.orderBy(...))` collapses everything
onto ONE partition, which is wrong at scale.

`stable_row_number` is the 100 TB-safe version, value-bucketed two-phase:

  1. pick ordered boundary literals for the leading sort key: its
     k-quantiles from one `percentile_approx` sketch, observed on a no-op
     write (one job, no exchange);
  2. bucket each row by pure comparison against those literals (NOT by
     spark_partition_id — partition identity is not stable across the jobs
     AQE compiles, value comparison is);
  3. count rows per bucket (one tiny aggregate) -> exclusive prefix-sum
     offsets on the driver;
  4. row_number inside each bucket (parallel windows) + the bucket offset.

The row numbers are deterministic given the data, so the numbering is
reproducible run-to-run — the property the reference gets from its
single-threaded counter and that idempotent re-imports depend on. The
boundaries are approximate and may vary run to run; that changes only
how evenly the rows spread over the buckets, never a row's number.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .progress import observe_metrics

_MAX_BUCKETS = 256
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _bucket_expr(col: Column, bounds: list) -> Column:
    """Pure-function bucket id: the number of boundaries < value (null ->
    -1), as a balanced comparison tree of depth ceil(log2(k)). A k-deep
    CASE chain falls off whole-stage codegen at k >= 128."""

    def tree(lo: int, hi: int) -> Column:  # ids lo..hi, split by bounds[lo:hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(col <= F.lit(bounds[mid]), tree(lo, mid)).otherwise(tree(mid + 1, hi))

    return F.when(col.isNull(), F.lit(-1)).otherwise(tree(0, len(bounds)))


def _bucketed_with_stats(df: DataFrame, lead: str, k: int, value_expr: Column | None):
    """Bucket rows by boundary literals on `lead` and collect the <=257
    per-bucket stat rows (count, and sum of `value_expr` when given).

    The boundaries are the k-quantiles of `lead` from one Greenwald-Khanna
    sketch (`percentile_approx`), observed on a no-op write: one job, no
    exchange, balanced for any key shape. They come back in the key's own
    type, so the comparison needs no cast; a key the sketch rejects (a
    string) fails at analysis. An empty frame or an all-null key gives no
    boundaries: one bucket."""
    k = min(k, _MAX_BUCKETS)
    bounds = []
    if k > 1:
        probs = [i / k for i in range(1, k)]
        seen = observe_metrics(
            df.select(lead), "bucket_bounds", q=F.percentile_approx(lead, probs, 1000)
        )
        bounds = sorted(set(seen["q"] or []))
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_expr is not None:
        aggs = aggs + [F.sum(value_expr).alias("s")]
    bucketed = df.withColumn("__bkt", _bucket_expr(F.col(lead), bounds))
    return bucketed, bucketed.groupBy("__bkt").agg(*aggs).collect()


def _bucket_offsets(totals: dict, zero, cast: str | None = None) -> Column:
    """Each bucket's exclusive prefix sum of the per-bucket `totals` (a
    null total adds nothing), looked up by `__bkt` as a literal map;
    every literal is cast to `cast` when given."""
    lit = (lambda v: F.lit(v).cast(cast)) if cast else F.lit
    if not totals:
        return lit(0)
    entries, acc = [], zero
    for b in sorted(totals):
        entries += [F.lit(b), lit(acc)]
        acc += totals[b] or 0
    return F.element_at(F.create_map(*entries), F.col("__bkt"))


def stable_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
) -> DataFrame:
    """Global 1-based row numbers by `order_cols`, no single-partition
    window. Ties order by the remaining `order_cols`; rows identical on all
    of them get an arbitrary-but-deterministic relative order within a
    bucket.

    One bucket per default-parallelism slot (at most 256), split at the
    approximate quantiles of the leading key, which must be a type
    `percentile_approx` accepts (numeric, date, timestamp). The numbers
    are deterministic; the boundaries may vary run to run, which changes
    only bucket balance."""
    k = df.sparkSession.sparkContext.defaultParallelism
    bucketed, rows = _bucketed_with_stats(df, order_cols[0], k, None)
    offset_expr = _bucket_offsets({r["__bkt"]: r["cnt"] for r in rows}, 0)
    w = Window.partitionBy("__bkt").orderBy(*[F.col(c) for c in order_cols])
    return (
        bucketed.withColumn(out_col, (F.row_number().over(w) + offset_expr).cast("long"))
        .drop("__bkt")
    )


def stable_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """Inclusive running sum of `value_col` in `order_cols` order, with the
    same value-bucketed two-phase plan as stable_row_number: parallel
    in-bucket window sums plus a driver-side exclusive prefix of <=256
    bucket subtotals. No single-partition window at any scale.

    The sum is typed by the input: integral `value_col` accumulates as
    long, anything else (float/double/decimal) as double — fractional
    values are never silently truncated."""
    k = df.sparkSession.sparkContext.defaultParallelism
    integral = isinstance(df.schema[value_col].dataType, _INTEGRAL)
    sum_type = "long" if integral else "double"
    value_expr = F.col(value_col).cast(sum_type)

    bucketed, rows = _bucketed_with_stats(df, order_cols[0], k, value_expr)
    offset_expr = _bucket_offsets(
        {r["__bkt"]: r["s"] for r in rows}, 0 if integral else 0.0, sum_type
    )
    w = (
        Window.partitionBy("__bkt")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.withColumn(
            out_col,
            (F.sum(value_expr).over(w) + offset_expr).cast(sum_type),
        ).drop("__bkt")
    )


def assign_batch_ids(
    df: DataFrame,
    batch_size: int,
    prefix: str,
    order_cols: list[str],
    id_col: str = "batch_id",
    rn_col: str = "rn",
) -> DataFrame:
    """batch_id = '{prefix}-{N}', N from 1, consecutive in key order —
    the golden envelope contract (subsets/batches/artists.edn: 47 batches
    of 100 over 4,601 artists)."""
    numbered = stable_row_number(df, order_cols, out_col=rn_col)
    return numbered.withColumn(
        id_col,
        F.concat_ws("-", F.lit(prefix), (F.floor((F.col(rn_col) - 1) / batch_size) + 1)),
    )

