"""Every registered query hash-matches its DuckDB oracle (driver t2 mirror)."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.queries import all_oracles, all_queries

from .oracle import compare, duckdb_conn

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    compare(df, con, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_query_runs_rows_only(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def test_registry_lists_every_query_module():
    """A query module missing from the registry would silently drop its
    queries from the driver contract."""
    import pkgutil

    from mbrainz_importer_spark import queries

    on_disk = {m.name for m in pkgutil.iter_modules(queries.__path__)}
    assert on_disk == {m.__name__.rsplit(".", 1)[1] for m in queries._MODULES}
