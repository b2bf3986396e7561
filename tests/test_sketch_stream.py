"""Streaming Misra-Gries heavy hitters: epoch summaries merge across
micro-batches; exact regime equals batch counts; replays never double
count (streaming/sketch_stream.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mbrainz_importer_spark.operators.idempotency import committed_files
from mbrainz_importer_spark.streaming.sketch_stream import (
    read_heavy_hitters,
    start_heavy_hitters,
)

BATCH1 = [(1, "apple apple banana"), (2, "apple cherry")]
BATCH2 = [(3, "banana banana apple"), (4, "date")]


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mgdocs")
    spark.createDataFrame(BATCH1, "doc_id long, text string").write.parquet(
        str(d / "drop1")
    )
    spark.createDataFrame(BATCH2, "doc_id long, text string").write.parquet(
        str(d / "drop2")
    )
    return str(d)


def test_stream_merge_exact_regime_and_replay(spark, stream_dirs, tmp_path_factory):
    base = tmp_path_factory.mktemp("mgout")
    out, ckpt = str(base / "sketch"), str(base / "ckpt")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dirs}/*/")
    )
    q = start_heavy_hitters(stream, out, ckpt, capacity=64)
    q.awaitTermination(120)

    got = {r["token"]: (r["count_lower"], r["count_upper"])
           for r in read_heavy_hitters(spark, out, k=10).collect()}
    # capacity >> vocab -> zero error -> exact corpus counts
    assert got == {
        "apple": (4, 4), "banana": (3, 3), "cherry": (1, 1), "date": (1, 1),
    }

    # replay with a fresh checkpoint: every epoch id is held, so nothing
    # is computed or appended, and counts are unchanged
    files = committed_files(out)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dirs}/*/")
    )
    q2 = start_heavy_hitters(stream2, out, str(base / "ckpt2"), capacity=64)
    q2.awaitTermination(120)
    assert committed_files(out) == files
    again = {r["token"]: r["count_lower"]
             for r in read_heavy_hitters(spark, out, k=10).collect()}
    assert again["apple"] == 4 and again["banana"] == 3


def test_tight_capacity_bounds_hold(spark, stream_dirs, tmp_path_factory):
    """capacity=1 forces decrements: bounds must still bracket truth."""
    base = tmp_path_factory.mktemp("mgtight")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dirs}/*/")
    )
    q = start_heavy_hitters(stream, str(base / "s"), str(base / "c"), capacity=1)
    q.awaitTermination(120)
    rows = read_heavy_hitters(spark, str(base / "s"), k=10).collect()
    true = {"apple": 4, "banana": 3, "cherry": 1, "date": 1}
    for r in rows:
        assert r["count_lower"] <= true[r["token"]] <= r["count_upper"], r
