"""Streaming incremental dedup: micro-batched crawl probes a static
corpus LSH index; verdicts equal the batch operator's, replays never
duplicate (streaming/dedup_stream.py)."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.operators.idempotency import committed_files
from mbrainz_importer_spark.operators.dedup import incremental_near_dups
from mbrainz_importer_spark.streaming.dedup_stream import (
    read_verdicts,
    start_incremental_dedup,
)

BASE = "the quick brown fox jumps over the lazy dog on a warm summer day"
CORPUS = [
    (1, BASE),
    (4, "completely different text about spark catalyst optimizer and shuffle partitions"),
]
NEW = [
    (2, BASE.replace("warm", "cold")),  # near-dup of corpus doc 1
    (3, BASE),                           # exact dup of corpus doc 1
    (5, "another unrelated document mentioning minhash lsh banding estimation"),
]


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ddocs")
    spark.createDataFrame(NEW[:1], "doc_id long, text string").write.parquet(
        str(d / "drop1")
    )
    spark.createDataFrame(NEW[1:], "doc_id long, text string").write.parquet(
        str(d / "drop2")
    )
    return str(d)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_verdicts_equal_batch_and_replay_safe(spark, stream_dirs, tmp_path_factory):
    base = tmp_path_factory.mktemp("ddout")
    out_path, ckpt = str(base / "verdicts"), str(base / "ckpt")
    corpus = spark.createDataFrame(CORPUS, "doc_id long, text string")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dirs}/*/")
    )
    q = start_incremental_dedup(
        stream, corpus, "doc_id", "text", out_path, ckpt, threshold=0.2
    )
    q.awaitTermination(120)

    streamed = read_verdicts(spark, out_path)
    batch = incremental_near_dups(
        spark.createDataFrame(NEW, "doc_id long, text string"),
        corpus, "doc_id", "text", threshold=0.2,
    )
    assert _canon(streamed) == _canon(batch)
    got = {(r["doc"], r["dup_of"]) for r in streamed.collect()}
    assert (3, 1) in got and (2, 1) in got
    assert not any(d == 5 for (d, _) in got)

    # replayed delivery with a fresh checkpoint: every epoch id is held,
    # so the verdict table gains no row and no part file
    n = streamed.count()
    files = committed_files(out_path)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dirs}/*/")
    )
    q2 = start_incremental_dedup(
        stream2, corpus, "doc_id", "text", out_path, str(base / "ckpt2"),
        threshold=0.2,
    )
    q2.awaitTermination(120)
    assert read_verdicts(spark, out_path).count() == n
    assert committed_files(out_path) == files


def test_operator_requires_corpus_or_index(spark):
    new = spark.createDataFrame(NEW, "doc_id long, text string")
    with pytest.raises(ValueError, match="precomputed"):
        incremental_near_dups(new, None, "doc_id", "text")
