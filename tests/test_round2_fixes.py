"""Regression tests for the round-2 advisor/judge findings:

- EDN `#_` discard transparency in every position (advisor: a trailing
  `#_x` in a collection used to synthesize a spurious "" element);
- batch_size-mismatch guard on re-import into an existing sink
  (reference README: 'Never import at different batch sizes into the
  same db');
- deterministic cross-file `_row_idx` for glob inputs (file-ordinal
  component in the batching order key);
- merge_upsert duplicate-key precondition enforcement;
- attach_many empty-array typing from the link column schema;
- predict_lang tie-break pin (alphabetically later code wins ties).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mbrainz_importer_spark.edn import EdnError, iter_forms, loads
from mbrainz_importer_spark.operators.text import predict_lang
from mbrainz_importer_spark.operators.upsert import attach_many, merge_upsert


# -------------------------------------------------------------------------
# EDN discard forms
# -------------------------------------------------------------------------

def test_discard_last_element_of_vector():
    assert loads("[1 #_2]") == [1]


def test_discard_middle_and_set():
    assert loads("[1 #_2 3]") == [1, 3]
    assert loads("#{1 #_2 3}") == frozenset({1, 3})


def test_discard_in_map_value_and_trailing_positions():
    assert loads("{:a #_1 2}") == {":a": 2}
    assert loads("{:a 1 #_:b}") == {":a": 1}
    assert loads("{:a 1 #_:b #_2}") == {":a": 1}


def test_nested_discard_consumes_two_forms():
    # Clojure reader semantics: #_ #_ a b discards both a and b
    assert loads("[#_ #_ 1 2 3]") == [3]


def test_discard_at_top_level():
    assert list(iter_forms("#_ 1 2 #_3 4")) == [2, 4]
    assert loads("#_ignored 42") == 42
    assert loads("42 #_trailing") == 42


def test_discard_with_nothing_to_discard_raises():
    with pytest.raises(EdnError):
        loads("[#_]")
    with pytest.raises(EdnError):
        loads("#_")


# -------------------------------------------------------------------------
# batch_size mismatch guard
# -------------------------------------------------------------------------

def test_batch_size_mismatch_raises(spark, tmp_path_factory, reference_subsets):
    from mbrainz_importer_spark.pipeline import Importer

    imp = Importer(spark, reference_subsets)
    wh = str(tmp_path_factory.mktemp("wh"))
    imp.load_type("labels", wh, batch_size=100)
    with pytest.raises(ValueError, match="batch_size"):
        imp.load_type("labels", wh, batch_size=50)
    # same size is still the no-op fast path
    assert imp.load_type("labels", wh, batch_size=100) == {"txes": 0, "datoms": 0}


# -------------------------------------------------------------------------
# glob _row_idx determinism
# -------------------------------------------------------------------------

def test_glob_row_idx_deterministic_across_files(spark, tmp_path):
    from pyspark.sql import types as T

    from mbrainz_importer_spark.sources.edn_source import (
        _FILE_STRIDE,
        read_edn_entities,
    )

    d = tmp_path / "edn"
    d.mkdir()
    (d / "b.edn").write_text('{:name "b0"}\n{:name "b1"}\n')
    (d / "a.edn").write_text('{:name "a0"}\n{:name "a1"}\n{:name "a2"}\n')
    schema = T.StructType([T.StructField("name", T.StringType())])

    out = read_edn_entities(spark, f"{d}/*.edn", schema)
    rows = {r["name"]: r["_row_idx"] for r in out.collect()}
    # files ranked by sorted path: a.edn -> 0, b.edn -> 1; in-file order kept
    assert rows == {
        "a0": 0, "a1": 1, "a2": 2,
        "b0": _FILE_STRIDE, "b1": _FILE_STRIDE + 1,
    }
    # key is unique across files (the batching/idempotency contract)
    assert len(set(rows.values())) == 5
    # stable run-to-run
    again = {r["name"]: r["_row_idx"]
             for r in read_edn_entities(spark, f"{d}/*.edn", schema).collect()}
    assert again == rows


def test_single_file_row_idx_unchanged(spark, tmp_path):
    from pyspark.sql import types as T

    from mbrainz_importer_spark.sources.edn_source import read_edn_entities

    p = tmp_path / "one.edn"
    p.write_text('{:name "x"}\n{:name "y"}\n')
    schema = T.StructType([T.StructField("name", T.StringType())])
    rows = {r["name"]: r["_row_idx"]
            for r in read_edn_entities(spark, str(p), schema).collect()}
    assert rows == {"x": 0, "y": 1}


# -------------------------------------------------------------------------
# merge_upsert duplicate-key guard
# -------------------------------------------------------------------------

def test_merge_upsert_duplicate_updates_raise(spark):
    target = spark.createDataFrame([("g1", "A")], "gid string, name string")
    dup_updates = spark.createDataFrame(
        [("g1", "B"), ("g1", "C")], "gid string, name string"
    )
    with pytest.raises(ValueError, match="one row per key|pre-compact"):
        merge_upsert(target, dup_updates, "gid")
    # caller can waive the check when uniqueness is guaranteed upstream
    ok = merge_upsert(target, target, "gid", check_unique=False)
    assert ok.count() == 1


# -------------------------------------------------------------------------
# attach_many element typing
# -------------------------------------------------------------------------

def test_attach_many_long_typed_links(spark):
    parent = spark.createDataFrame([(1, "A"), (2, "B")], "id long, name string")
    links = spark.createDataFrame([(1, 10), (1, 7)], "pid long, child long")
    out = attach_many(parent, links, "id", "pid", "child", "children")
    assert dict(out.dtypes)["children"] == "array<bigint>"
    got = {r["id"]: r["children"] for r in out.collect()}
    assert got == {1: [7, 10], 2: []}


# -------------------------------------------------------------------------
# predict_lang tie-break pin
# -------------------------------------------------------------------------

def test_predict_lang_tie_break(spark):
    # 'the and' -> en=2; 'la les' -> fr=2 (la also hits es=1): en/fr tie,
    # alphabetically later code wins -> fr. Pinned so neither the Spark
    # expression nor the oracle SQL drifts independently.
    df = spark.createDataFrame([("the and la les",)], "text string")
    assert df.select(predict_lang(F.col("text")).alias("l")).first()["l"] == "fr"
    # no hits at all -> 'und'
    df2 = spark.createDataFrame([("zzz qqq",)], "text string")
    assert df2.select(predict_lang(F.col("text")).alias("l")).first()["l"] == "und"
