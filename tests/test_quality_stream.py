"""Streaming quality scoring: micro-batch verdicts equal the batch
face's (same operator code), replays never duplicate
(streaming/quality_stream.py)."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.operators.idempotency import committed_files
from mbrainz_importer_spark.streaming.quality_stream import (
    read_verdicts,
    score_batch,
    start_quality_scoring,
)

DOCS = [
    (1, "a sensible document of ordinary prose with many varied words here"),
    (2, "spam " * 400),  # long enough that deflate beats the min band
    (3, "short"),
    (4, "another normal piece of text discussing entirely different topics today"),
]


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("qdocs")
    spark.createDataFrame(DOCS[:2], "doc_id long, text string").write.parquet(
        str(d / "drop1")
    )
    spark.createDataFrame(DOCS[2:], "doc_id long, text string").write.parquet(
        str(d / "drop2")
    )
    return str(d)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_equals_batch_and_replay_safe(spark, stream_dirs, tmp_path_factory):
    base = tmp_path_factory.mktemp("qout")
    out_path, ckpt = str(base / "verdicts"), str(base / "ckpt")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dirs}/*/")
    )
    q = start_quality_scoring(stream, out_path, ckpt, threshold=-1.0)
    q.awaitTermination(120)

    streamed = read_verdicts(spark, out_path)
    batch = score_batch(
        spark.createDataFrame(DOCS, "doc_id long, text string"),
        threshold=-1.0,
    ).select("doc_id", "score_int", "n_tokens", "score",
             "compression_ratio", "keep")
    assert _canon(streamed) == _canon(batch)
    assert streamed.count() == 4

    # the repetition-spam doc fails the compression band even with the
    # permissive score threshold
    verdicts = {r["doc_id"]: r["keep"] for r in streamed.collect()}
    assert verdicts[2] is False

    # replay with a fresh checkpoint: every epoch id is held, no growth
    files = committed_files(out_path)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dirs}/*/")
    )
    q2 = start_quality_scoring(stream2, out_path, str(base / "ckpt2"),
                               threshold=-1.0)
    q2.awaitTermination(120)
    assert read_verdicts(spark, out_path).count() == 4
    assert committed_files(out_path) == files
