"""Metaschema entity-table materialization: the relational projection of
metaschema/mbrainz.edn over an imported warehouse, queryable via
spark.sql."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.pipeline import Importer
from mbrainz_importer_spark.plans.metaschema import (
    _loaded,
    build_entity_tables,
    expand_ref,
    register_metaschema,
)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory, reference_subsets):
    wh = str(tmp_path_factory.mktemp("wh"))
    imp = Importer(spark, reference_subsets)
    imp.run_import(wh)
    tables = build_entity_tables(spark, wh, imp, f"{wh}/tables")
    return wh, imp, tables


def test_tables_materialized(warehouse):
    _, _, tables = warehouse
    assert set(tables) >= {
        "artist", "label", "abstract_release", "release",
        "release_artists", "arelease_artists",
        "country", "language", "script", "enum",
    }
    assert tables["artist"].count() == 4601
    # 11510 raw release rows contain 67 duplicate gids; unique-identity
    # merge (J2) compacts them to one entity each
    assert tables["release"].count() == 11434
    assert tables["country"].count() == 257


def test_card_many_refs_attached(warehouse):
    _, _, tables = warehouse
    rel = tables["release"]
    import pyspark.sql.functions as F

    total_links = rel.select(F.explode("artist_gids")).count()
    distinct_links = tables["release_artists"].count()
    assert total_links == distinct_links  # set semantics: deduped pairs


def test_sql_over_registered_views(warehouse, spark):
    wh, _, _ = warehouse
    names = register_metaschema(spark, f"{wh}/tables")
    assert "release" in names
    top = spark.sql("""
        SELECT a.name, COUNT(*) AS n_releases
        FROM release r
        JOIN release_artists ra ON r.gid = ra.release_gid
        JOIN artist a ON ra.artist_gid = a.gid
        GROUP BY a.name ORDER BY n_releases DESC, a.name LIMIT 3
    """).collect()
    assert len(top) == 3 and top[0]["n_releases"] >= top[2]["n_releases"]
    # dim join through resolved idents (country stored as ':country/XX')
    by_country = spark.sql("""
        SELECT c.name, COUNT(*) AS n
        FROM artist a JOIN country c ON a.country = c.ident
        GROUP BY c.name ORDER BY n DESC LIMIT 1
    """).collect()
    assert by_country[0]["n"] > 0


def test_expand_ref_helper(warehouse, spark):
    wh, _, _ = warehouse
    joined = expand_ref(spark, f"{wh}/tables", "release", "artists")
    assert joined.where(joined["artist__name"].isNotNull()).count() > 0
    with pytest.raises(KeyError):
        expand_ref(spark, f"{wh}/tables", "artist", "releases")


def test_returned_tables_carry_the_stored_schema(spark, tmp_path):
    """Each returned table reads back with the schema parquet stored (no
    inference job) and the written contents; inline corpus, no reference
    tree needed."""
    from tests.test_import_stage import BATCH, _write_corpus

    imp = Importer(spark, _write_corpus(tmp_path / "corpus"))
    wh = str(tmp_path / "wh")
    imp.run_import(wh, batch_size=BATCH)
    try:
        tables = build_entity_tables(spark, wh, imp, f"{wh}/tables")
    finally:
        imp.enums.unpersist()
        imp.supers.unpersist()
    assert len(tables) == 10
    for name, df in tables.items():
        stored = spark.read.parquet(f"{wh}/tables/{name}")
        assert df.schema == stored.schema, name
        assert sorted(df.collect(), key=repr) == sorted(stored.collect(), key=repr), name
    assert tables["release"].where("size(media) > 0").count() == 2


@pytest.fixture
def inline_importer(spark, tmp_path):
    from tests.test_import_stage import _write_corpus

    imp = Importer(spark, _write_corpus(tmp_path / "corpus"))
    yield imp
    imp.enums.unpersist()
    imp.supers.unpersist()


def test_loaded_reads_the_marker_schema_without_a_job(spark, tmp_path, inline_importer):
    """Each loaded sink is read with the schema its completion marker
    records: no schema-inference job, the columns parquet stored."""
    from tests.conftest import count_jobs
    from tests.test_import_stage import BATCH, EXPECTED

    wh = str(tmp_path / "wh")
    inline_importer.run_import(wh, batch_size=BATCH)
    for name in EXPECTED:
        df, jobs = count_jobs(spark, f"test-metaschema-loaded-{name}",
                              lambda: _loaded(spark, wh, name))
        assert jobs == 0, name
        stored = spark.read.parquet(f"{wh}/loaded/{name}").drop("batch_id", "_rn")
        assert sorted(df.columns) == sorted(stored.columns), name
    assert _loaded(spark, wh, "no-such-type") is None


@pytest.mark.parametrize("marker", ["absent", "without-schema"])
def test_loaded_refuses_an_unfinished_load(spark, tmp_path, inline_importer, marker):
    """A sink without a marker, or with one that records no schema, is an
    unfinished load: `_loaded` names the type and asks for `run_import`,
    whose re-run completes the load and rewrites the marker."""
    import json
    import os

    from tests.test_import_stage import BATCH

    wh = str(tmp_path / "wh")
    inline_importer.run_import(wh, batch_size=BATCH, import_order=["labels"])
    path = f"{wh}/loaded/labels/_IMPORT_COMPLETE.json"
    with open(path, encoding="utf-8") as fh:
        written = json.load(fh)
    os.remove(path)
    if marker == "without-schema":
        del written["schema"]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(written, fh)
    with pytest.raises(ValueError, match=r"^labels: .*re-run run_import"):
        _loaded(spark, wh, "labels")
    inline_importer.run_import(wh, batch_size=BATCH, import_order=["labels"])
    assert _loaded(spark, wh, "labels").count() == 3
