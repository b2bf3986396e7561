"""Loading of the driver-provided analytics tables (TESTDATA.md).

One parquet file per table under a scale-factor directory. The loader is a
plain `spark.read.parquet` so Catalyst keeps predicate pushdown, column
pruning, and partition pruning on the scan (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always sit on the broadcast side of a
# join (the reference keeps its enum dims in memory: importer.clj:260-266).
BROADCAST_TABLES = frozenset({"region", "nation"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    rejects. Read nanos as long and rebuild a TIMESTAMP_NTZ truncated to
    micros — bit-identical to how DuckDB reads the same file, and
    timezone-independent (NTZ arithmetic, no session-tz involvement).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df

