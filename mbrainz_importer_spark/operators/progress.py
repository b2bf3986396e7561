"""Progress instrumentation (SURVEY.md §2.2 P10).

The reference's `dot` transducer prints a '.' per element/interval
(cognitect/xform/transducers.clj:29-47) — driver-side peeking at a
single-threaded stream. The Spark-idiomatic equivalent is the `observe`
API: named metrics computed inside the job (no extra pass, no Python in
the loop), harvested on the driver after each action via Observation.

    df, obs = observed(df, "load", rows=F.count(F.lit(1)))
    df.write.parquet(...)
    obs.get  # {'rows': N}
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame, name: str, **metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach named aggregate metrics to a DataFrame; they are computed
    as a side product of whatever action runs next."""
    if not metrics:
        metrics = {"rows": F.count(F.lit(1))}
    obs = Observation(name)
    out = df.observe(obs, *[m.alias(k) for k, m in metrics.items()])
    return out, obs


def observe_metrics(df: DataFrame, name: str, **metrics: Column) -> dict:
    """Compute named aggregate metrics over `df` now, in one job with no
    exchange: observed on a no-op write of the frame. Returns
    {metric: value}."""
    out, obs = observed(df, name, **metrics)
    out.write.format("noop").mode("overwrite").save()
    return obs.get


def observed_counter(df: DataFrame, name: str = "progress") -> tuple[DataFrame, Observation]:
    """The `dot`-analog: row count of the next action over this frame.
    (Any aggregate can be observed — collect_set and percentile_approx
    included — except a DISTINCT one, over deterministic expressions
    only: spark_partition_id, rand and the like are rejected.)"""
    return observed(df, name, rows=F.count(F.lit(1)))
