"""Query registry: merges every domain module's (QUERIES, ORACLES) pair.

The driver contract (__spark_entry__.py) exposes exactly this registry.
Every module is imported here, so a module that fails to import fails the
registry; each module defines
``QUERIES: dict[str, fn(spark, sf_dir) -> DataFrame]`` and
``ORACLES: dict[str, str]`` (DuckDB SQL). A query without an oracle entry is
allowed (non-SQL-expressible ops get a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    core, datalog_queries, llm, streaming_queries, extra, fulltext_queries,
    tpch_extra, tpch_full, history_queries, curation_queries, parity_queries,
    pipeline_queries, client_queries, quantize_queries, linkage_queries,
    pca_queries,
)

# all_queries() keeps this order
_MODULES = [
    core, datalog_queries, llm, streaming_queries, extra, fulltext_queries,
    tpch_extra, tpch_full, history_queries, curation_queries, parity_queries,
    pipeline_queries, client_queries, quantize_queries, linkage_queries,
    pca_queries,
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names across modules: {sorted(overlap)}")
        out.update(mod.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(getattr(mod, "ORACLES", {}))
    unknown = out.keys() - all_queries().keys()
    if unknown:
        raise ValueError(f"oracle without query: {sorted(unknown)}")
    return out
