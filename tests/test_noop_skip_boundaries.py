"""Fall-through boundaries of the r13 content no-op fast paths
(r13 ADVICE #4): the happy skip must leave files byte-identical, and
every near-miss — mixed inert-asserts + retract-of-live, NULL-added
ops, an over-cap increment, an ANN same-cell payload update with
n_hit == n_fresh, an excision where only SOME ids are already
tombstoned — must fall through to a real rewrite with correct
content."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mbrainz_importer_spark.plans.eav import (
    _increment_is_noop,
    materialize_datoms,
    merge_datoms_increment,
    read_datoms,
)

OPS_SCHEMA = "e string, a string, v string, v_num double, tx long, added boolean"
STORE_SCHEMA = "e string, a string, v string, v_num double"


def _store(spark, rows):
    return spark.createDataFrame(rows, STORE_SCHEMA)


def _ops(spark, rows):
    return spark.createDataFrame(rows, OPS_SCHEMA)


def _sorted(df):
    return sorted(tuple(r) for r in df.select("e", "a", "v", "v_num").collect())


def _files(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
    return out


BASE = [
    ("t:1", ":t/x", "1", 1.0),
    ("t:2", ":t/keep", "k", None),
]


def test_datom_redelivery_skip_leaves_files_byte_identical(spark, tmp_path):
    """The happy skip: a redelivered, fully-applied increment must not
    rewrite ANY file — not just preserve content."""
    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    inc = _ops(spark, [
        ("t:1", ":t/x", "2", 2.0, 10, True),       # displacement
        ("t:9", ":t/x", "9", 9.0, 10, False),      # retract absent: inert
    ])
    merge_datoms_increment(spark, path, inc)
    want = _sorted(read_datoms(spark, path))
    assert ("t:1", ":t/x", "2", 2.0) in want
    before = _files(path)
    merge_datoms_increment(spark, path, inc)  # redelivery: provably inert
    assert _files(path) == before, "inert redelivery rewrote files"
    assert _sorted(read_datoms(spark, path)) == want


def test_datom_mixed_inert_asserts_plus_retract_of_live_falls_through(
    spark, tmp_path
):
    """Near-miss: every assert already live, but one retract matches a
    live row — the probe must fall through and the merge must actually
    remove it."""
    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    inc = _ops(spark, [
        ("t:1", ":t/x", "1", 1.0, 10, True),        # inert assert
        ("t:2", ":t/keep", "k", None, 10, False),   # retract of LIVE row
    ])
    merge_datoms_increment(spark, path, inc)
    got = _sorted(read_datoms(spark, path))
    assert ("t:2", ":t/keep", "k", None) not in got, (
        "retract-of-live dissolved as a no-op — live datom kept"
    )
    assert ("t:1", ":t/x", "1", 1.0) in got


def test_datom_null_added_ops_fall_through_and_replay(spark, tmp_path):
    """An increment of ONLY NULL-added ops is invisible to both probe
    counters; it must NOT hit the both-zero early return (r13 ADVICE
    low #3). The replay drops the datom (a NULL-added op wins the
    max-struct, then fails where(op.added)) — the skip would have kept
    it live."""
    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    inc = _ops(spark, [("t:1", ":t/x", "1", 1.0, 10, None)])
    assert _increment_is_noop(
        read_datoms(spark, path).where(F.col("a") == ":t/x"), inc
    ) is False
    merge_datoms_increment(spark, path, inc)
    got = _sorted(read_datoms(spark, path))
    assert ("t:1", ":t/x", "1", 1.0) not in got, (
        "NULL-added increment declared inert — merge skipped"
    )
    assert ("t:2", ":t/keep", "k", None) in got


def test_datom_probe_size_gate_skips_probe_above_cap(spark, monkeypatch):
    """Above the broadcast-safe cap the probe must not run at all —
    even a genuinely inert increment goes straight to the real merge
    (r13 ADVICE medium #2: a bulk-sized increment must never be forced
    through the broadcast-relation limit just to ask)."""
    from mbrainz_importer_spark import budget

    existing = _store(spark, BASE)
    inert = _ops(spark, [
        ("t:1", ":t/x", "1", 1.0, 10, True),
        ("t:2", ":t/keep", "k", None, 10, True),
    ])
    assert _increment_is_noop(existing, inert) is True
    # cap = heap // (16 * 512) == 1 row < n_ops == 2 -> probe skipped
    monkeypatch.setattr(budget, "heap_bytes", lambda spark: 16 * 512)
    assert _increment_is_noop(existing, inert) is False


def test_ivf_same_cell_payload_update_falls_through(spark, tmp_path):
    """ANN near-miss (operators/ann.py content no-op probe): every
    arrival id already indexed in the SAME cell (n_hit == n_fresh, no
    moved cells) but with a DIFFERENT payload — must rewrite, and the
    stored vector must be the arrival's."""
    from mbrainz_importer_spark.operators.ann import (
        materialize_ivf_index,
        merge_ivf_increment,
        read_ivf_index,
    )

    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.02, 0.0]), (10, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    materialize_ivf_index(corpus, centroids, path)

    # same id, same cell (scaling is cosine-invariant), new payload
    update = spark.createDataFrame(
        [(0, [0.5, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    merge_ivf_increment(spark, path, update, centroids)
    got = {
        r["nid"]: list(r["nv"])
        for r in read_ivf_index(spark, path).collect()
    }
    assert got[0] == [0.5, 0.0, 0.0], "same-cell payload update dissolved"
    assert set(got) == {0, 1, 10}

    # redelivery of the identical payload: byte-identical skip
    before = _files(path)
    merge_ivf_increment(spark, path, update, centroids)
    assert _files(path) == before, "identical redelivery rewrote cells"


def test_fulltext_excision_partial_tombstone_overlap(spark, tmp_path):
    """Excision near-miss: only SOME doomed ids are already tombstoned
    — the tombstone rewrite must still happen (the new id must land),
    and a fully-redundant re-excision afterwards must skip the rewrite
    (tombstone file untouched)."""
    from mbrainz_importer_spark.operators.fulltext import (
        excise_fulltext_docs,
        fulltext_bm25_from_index,
        materialize_fulltext_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma alpha")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ft")
    materialize_fulltext_index(docs, path, n_pfx=8, n_dpfx=4)

    excise_fulltext_docs(
        spark, path, spark.createDataFrame([(1,)], "doc long")
    )
    # partial overlap: 1 already tombstoned, 2 is new
    excise_fulltext_docs(
        spark, path, spark.createDataFrame([(1,), (2,)], "doc long")
    )
    tombs = {
        r["doc"]
        for r in spark.read.parquet(path + "/tombstones").collect()
    }
    assert tombs == {1, 2}, "new id missing from tombstones"
    hits = fulltext_bm25_from_index(spark, path, "beta", k=10)
    assert {r["doc"] for r in hits.collect()} == set(), (
        "excised docs still served"
    )
    # fully-redundant redelivery: tombstone file byte-identical
    before = _files(path + "/tombstones")
    excise_fulltext_docs(
        spark, path, spark.createDataFrame([(1,), (2,)], "doc long")
    )
    assert _files(path + "/tombstones") == before, (
        "redundant excision rewrote the tombstone set"
    )
