"""Enum / super-enum dimension resolution (SURVEY.md §2.2 P2/P3, §2.4 J1).

The reference holds enum maps in memory and fails the import on a missed
lookup (importer.clj:215-224: as-enum / as-super-enum raise
`could-not-import`). Spark-first: dims are small DataFrames joined with an
explicit broadcast. Each resolution adds a `__miss_<col>` indicator
column, and `assert_no_misses` checks every indicator of a frame in one
action, raising with the names of the columns that missed — a runtime
check, not an optimizer concern (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as SCH
from ..sources.edn_source import read_edn_forms_local
from .progress import observe_metrics


class MissingDimensionValue(ValueError):
    """Raised when a fact value fails to resolve against its dimension —
    the analog of the reference's `could-not-import` (importer.clj:212-214)."""


def enums_dim(spark: SparkSession, enums_edn_path: str) -> DataFrame:
    """Flatten enums.edn {enum_type {value ident}} into dim rows (G9,
    enums->tx-data importer.clj:190-196)."""
    [raw] = read_edn_forms_local(enums_edn_path)
    rows = [
        (str(enum_type), str(value), str(ident))
        for enum_type, mapping in raw.items()
        for value, ident in mapping.items()
    ]
    from .localrel import local_df

    return local_df(spark, rows, SCH.ENUM_DIM)


def super_enums_dim(spark: SparkSession, basedir: str) -> DataFrame:
    """Flatten countries/langs/scripts.edn {code {:db/ident .. :ns/name ..
    :ns/code ..}} into dim rows (G10, super-enums->tx-data
    importer.clj:198-201)."""
    rows = []
    for table, fname in (("countries", "countries.edn"), ("langs", "langs.edn"), ("scripts", "scripts.edn")):
        [raw] = read_edn_forms_local(f"{basedir}/entities/{fname}")
        for code, ent in raw.items():
            ident = ent[":db/ident"]
            name = next(v for k, v in ent.items() if k.endswith("/name"))
            rows.append((table, str(code), str(name), str(ident)))
    from .localrel import local_df

    return local_df(spark, rows, SCH.SUPER_ENUM_DIM)


MISS_PREFIX = "__miss_"


def resolve_enum(
    fact: DataFrame,
    value_col: str,
    dim: DataFrame,
    dim_value_col: str,
    dim_ident_col: str,
) -> DataFrame:
    """Replace `value_col` with its dimension ident via broadcast join.

    Null fact values pass through as null (optional keys). A non-null value
    that misses the dim sets the row's `__miss_{value_col}` indicator, so
    one `assert_no_misses` action validates every dimension of a frame
    instead of one Spark job per enum column.
    """
    d = F.broadcast(dim.select(
        F.col(dim_value_col).alias("__dim_v"), F.col(dim_ident_col).alias("__dim_ident")
    ))
    joined = fact.join(d, fact[value_col] == d["__dim_v"], "left")
    miss = F.col(value_col).isNotNull() & F.col("__dim_ident").isNull()
    cols = [
        F.col("__dim_ident").alias(value_col) if c == value_col else F.col(c)
        for c in fact.columns
    ]
    return joined.select(*cols, miss.alias(f"{MISS_PREFIX}{value_col}"))


def assert_no_misses(df: DataFrame) -> DataFrame:
    """Validate every `__miss_*` indicator in one action: a `max`
    per indicator, observed on a no-op write, so the check runs one job
    with no exchange. Raise MissingDimensionValue naming every column that
    missed in any row, else return the frame with the indicators dropped.
    (A `where(...).limit(n)` sample would rescan a clean multi-partition
    stage in 1-, 4- and 16-partition jobs.)"""
    miss_cols = [c for c in df.columns if c.startswith(MISS_PREFIX)]
    if not miss_cols:
        return df
    seen = observe_metrics(
        df.select(*miss_cols), "enum_misses", **{c: F.max(c) for c in miss_cols}
    )
    bad = [c[len(MISS_PREFIX):] for c in miss_cols if seen[c]]
    if bad:
        raise MissingDimensionValue(f"could not resolve dimension column(s): {sorted(bad)}")
    return df.drop(*miss_cols)
