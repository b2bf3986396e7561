"""M3: exactly-once restart protocol + unique-identity upsert semantics
(SURVEY.md §5.4 — 'run twice, assert second run {:txes 0}')."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mbrainz_importer_spark.operators.idempotency import IdempotentParquetSink
from mbrainz_importer_spark.operators.upsert import attach_many, merge_upsert
from mbrainz_importer_spark.pipeline import Importer


@pytest.fixture(scope="module")
def importer(spark, reference_subsets):
    return Importer(spark, reference_subsets)


def test_double_load_is_noop(importer, spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    r1 = importer.load_type("labels", wh)
    assert r1["txes"] == 13 and r1["datoms"] == 1207  # BASELINE.md golden counts
    n1 = spark.read.parquet(f"{wh}/loaded/labels").count()

    r2 = importer.load_type("labels", wh)
    assert r2 == {"txes": 0, "datoms": 0}
    assert spark.read.parquet(f"{wh}/loaded/labels").count() == n1


def test_partial_restart_loads_only_missing(importer, spark, tmp_path_factory):
    """Simulate a crashed run: preload a prefix of batches, then run the
    full load — only the missing batches are written (filter-batches J5)."""
    wh = str(tmp_path_factory.mktemp("wh"))
    env = importer.create_batches("labels")
    first_half = env.where(F.col("batch_id").isin([f"labels-{i}" for i in range(1, 8)]))
    sink = IdempotentParquetSink(f"{wh}/loaded/labels")
    from mbrainz_importer_spark.operators.idempotency import load_envelopes

    r0 = load_envelopes(sink, first_half, spark)
    assert r0["txes"] == 7

    r1 = importer.load_type("labels", wh)
    assert r1["txes"] == 6  # 13 total - 7 preloaded
    assert spark.read.parquet(f"{wh}/loaded/labels").count() == 1207


def test_run_import_all_stages(importer, spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    results = importer.run_import(wh)
    assert results["schema"]["rows"] == 66
    assert results["enums"]["rows"] == 59
    assert results["super-enums"]["rows"] == 8193
    assert results["artists"] == {"txes": 47, "datoms": 4601}
    assert results["areleases"] == {"txes": 102, "datoms": 10180}
    assert results["labels"] == {"txes": 13, "datoms": 1207}
    assert results["releases-artists"] == {"txes": 119, "datoms": 11806}
    assert results["areleases-artists"] == {"txes": 106, "datoms": 10544}
    assert results["media"] == {"skipped": "entity file absent"}
    assert results["releases"]["datoms"] == 11510

    # full re-run: every distributed stage is a no-op
    rerun = importer.run_import(wh)
    for t in ("artists", "areleases", "labels", "releases",
              "releases-artists", "areleases-artists"):
        assert rerun[t] == {"txes": 0, "datoms": 0}, t


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [("g1", "Alpha", 1990, ["x"]), ("g2", "Beta", None, ["y"])],
        "gid string, name string, year int, tags array<string>",
    )
    updates = spark.createDataFrame(
        [("g2", None, 2000, ["z", "y"]), ("g3", "Gamma", None, [])],
        "gid string, name string, year int, tags array<string>",
    )
    out = {r["gid"]: r.asDict() for r in
           merge_upsert(target, updates, "gid", set_union_cols=("tags",)).collect()}
    assert out["g1"] == {"gid": "g1", "name": "Alpha", "year": 1990, "tags": ["x"]}
    # update's null name does NOT clobber; scalar year updated; tags unioned
    assert out["g2"] == {"gid": "g2", "name": "Beta", "year": 2000, "tags": ["y", "z"]}
    assert out["g3"] == {"gid": "g3", "name": "Gamma", "year": None, "tags": []}


def test_attach_many(spark):
    parent = spark.createDataFrame([("r1", "A"), ("r2", "B")], "gid string, name string")
    links = spark.createDataFrame(
        [("r1", "a1"), ("r1", "a2"), ("r1", "a1")], "release string, artist string"
    )
    out = {r["gid"]: r["artist_gids"] for r in
           attach_many(parent, links, "gid", "release", "artist", "artist_gids").collect()}
    assert out["r1"] == ["a1", "a2"]  # deduped, sorted
    assert out["r2"] == []
