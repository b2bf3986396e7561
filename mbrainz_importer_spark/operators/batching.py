"""Deterministic order-dependent batching (SURVEY.md §2.3 G3, §4.1).

The reference numbers fixed-size batches with a stateful counter over a
single ordered stream (tx-data->batches, cognitect/xform/batch.clj:31-40).
Spark has no implicit stream order, so the order is an explicit sort key —
and a naive `row_number().over(Window.orderBy(...))` collapses everything
onto ONE partition, which is wrong at scale.

`stable_row_number` is the 100 TB-safe version, value-bucketed two-phase:

  1. pick ordered boundary literals for the leading sort key (driver-side,
     from approx-quantiles or a bounded sample — affects balance only);
  2. bucket each row by pure comparison against those literals (NOT by
     spark_partition_id — partition identity is not stable across the jobs
     AQE compiles, value comparison is);
  3. count rows per bucket (one tiny aggregate) -> exclusive prefix-sum
     offsets on the driver;
  4. row_number inside each bucket (parallel windows) + the bucket offset.

Every step is deterministic given the data, so the numbering is
reproducible run-to-run — the property the reference gets from its
single-threaded counter and that idempotent re-imports depend on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAX_BUCKETS = 256
_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
# Largest bucket may hold this multiple of the ideal share before the
# interpolated boundaries are declared skewed and recomputed from quantiles.
_SKEW_FACTOR = 4.0


def _interp_boundaries(df: DataFrame, col: str, k: int) -> list:
    """Numeric fast path: one cheap min/max aggregate + fixed-width
    interpolation instead of an approxQuantile pass (measured ~2s faster
    on the sf0.1 bench). Balanced only when the key is roughly uniform —
    callers re-bucket via `_quantile_boundaries` when the observed bucket
    counts come back skewed (heavy tail / outlier max)."""
    row = df.agg(
        F.min(F.col(col).cast("double")).alias("lo"),
        F.max(F.col(col).cast("double")).alias("hi"),
    ).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if lo is None or hi is None or lo == hi:
        return []
    step = (hi - lo) / k
    return sorted({lo + i * step for i in range(1, k)})


def _quantile_boundaries(df: DataFrame, col: str, k: int, numeric: bool) -> list:
    """Distribution-aware boundaries: approxQuantile for numeric keys
    (one Greenwald-Khanna pass — robust to any shape), a bounded sorted
    sample otherwise. Used as the skew fallback and as the direct path
    for non-numeric keys."""
    if numeric:
        probs = [i / k for i in range(1, k)]
        vals = df.stat.approxQuantile(col, probs, 0.001)
        return sorted({v for v in vals if v is not None})
    sample = (
        df.select(col).na.drop().sample(fraction=0.01, seed=42).limit(k * 64).collect()
    )
    vals = sorted({r[0] for r in sample})
    if len(vals) <= k:
        return vals
    step = len(vals) / k
    return [vals[int(i * step)] for i in range(1, k)]


def _boundaries(df: DataFrame, col: str, k: int, strategy: str = "interpolate") -> list:
    """Driver-side ordered boundary values for the leading sort key.
    Approximate is fine: boundaries only balance buckets, never affect
    correctness."""
    k = min(k, _MAX_BUCKETS)
    if k <= 1:
        return []
    numeric = isinstance(df.schema[col].dataType, _NUMERIC)
    if numeric and strategy != "quantile":
        return _interp_boundaries(df, col, k)
    return _quantile_boundaries(df, col, k, numeric)


def _skewed(counts: dict, k: int) -> bool:
    """True when the largest observed bucket dwarfs the ideal share —
    the signal that interpolated boundaries landed on a heavy-tailed key
    (e.g. one outlier max stretching the [min,max] range) and the
    in-bucket window would degenerate toward a single partition."""
    total = sum(counts.values())
    if total == 0 or min(k, _MAX_BUCKETS) <= 1:
        return False
    ideal = total / min(k, _MAX_BUCKETS)
    return max(counts.values()) > _SKEW_FACTOR * max(ideal, 1.0)


def _bucket_expr(col: Column, bounds: list, numeric: bool) -> Column:
    """Pure-function bucket id: number of boundaries < value (null -> -1)."""
    c = col.cast("double") if numeric else col
    expr = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        expr = F.when(c <= F.lit(bounds[i]), i).otherwise(expr)
    return F.when(col.isNull(), F.lit(-1)).otherwise(expr)


def _bucketed_with_stats(
    df: DataFrame,
    lead: str,
    k: int,
    numeric: bool,
    strategy: str,
    value_expr: Column | None,
):
    """Bucket rows by boundary literals on `lead` and collect the <=257
    per-bucket stat rows (count, and sum of `value_expr` when given).
    With strategy='auto' the cheap interpolated boundaries are tried
    first; if the observed counts come back skewed (heavy-tailed key),
    boundaries are recomputed from approxQuantile and the rows are
    re-bucketed — one extra bounded pass paid only in the skewed case."""
    first = "interpolate" if strategy == "auto" else strategy
    bounds = _boundaries(df, lead, k, first)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_expr is not None:
        aggs = aggs + [F.sum(value_expr).alias("s")]

    bucketed = df.withColumn("__bkt", _bucket_expr(F.col(lead), bounds, numeric))
    rows = bucketed.groupBy("__bkt").agg(*aggs).collect()

    if strategy == "auto" and numeric and _skewed({r["__bkt"]: r["cnt"] for r in rows}, k):
        qbounds = _boundaries(df, lead, k, "quantile")
        if qbounds and qbounds != bounds:
            bucketed = df.withColumn("__bkt", _bucket_expr(F.col(lead), qbounds, numeric))
            rows = bucketed.groupBy("__bkt").agg(*aggs).collect()
    return bucketed, rows


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

    One bucket per default-parallelism slot: numeric keys try min/max
    interpolation and fall back to approxQuantile when the buckets come
    back skewed; other keys take sampled quantiles."""
    k = df.sparkSession.sparkContext.defaultParallelism
    lead = order_cols[0]
    numeric = isinstance(df.schema[lead].dataType, _NUMERIC)
    bucketed, rows = _bucketed_with_stats(df, lead, k, numeric, "auto", None)
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
    lead = order_cols[0]
    numeric = isinstance(df.schema[lead].dataType, _NUMERIC)
    integral = isinstance(df.schema[value_col].dataType, _INTEGRAL)
    sum_type = "long" if integral else "double"
    value_expr = F.col(value_col).cast(sum_type)

    bucketed, rows = _bucketed_with_stats(df, lead, k, numeric, "auto", value_expr)
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

