"""Streaming incremental fulltext index: stream-built postings must
equal the batch-built index, searches must agree, and restarts/replays
must not double-count (streaming/fulltext_stream.py)."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.operators.idempotency import committed_files
from mbrainz_importer_spark.operators.fulltext import (
    build_fulltext_index,
    fulltext_bm25_topk,
    fulltext_search,
)
from mbrainz_importer_spark.streaming.fulltext_stream import (
    read_postings,
    start_fulltext_indexing,
)

DOCS = [
    (1, "the quick brown fox"),
    (2, "quick quick cats"),
    (3, "slow green turtle"),
    (4, "brown turtle brigade"),
    (5, ""),
    (6, "fox and turtle treaty"),
]


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    """Two file drops — the stream sees (at least) two incremental
    arrivals of the corpus."""
    d = tmp_path_factory.mktemp("ftdocs")
    spark.createDataFrame(DOCS[:3], "doc_id int, text string").write.parquet(
        str(d / "drop1")
    )
    spark.createDataFrame(DOCS[3:], "doc_id int, text string").write.parquet(
        str(d / "drop2")
    )
    return str(d)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_index_equals_batch_and_replay_safe(spark, docs_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("ftidx")
    index_path, ckpt = str(base / "index"), str(base / "ckpt")

    stream = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(f"{docs_dir}/*/")
    )
    q = start_fulltext_indexing(stream, "doc_id", "text", index_path, ckpt)
    q.awaitTermination(120)

    streamed = read_postings(spark, index_path)
    batch = build_fulltext_index(
        spark.createDataFrame(DOCS, "doc_id int, text string"), "doc_id", "text"
    )
    assert _canon(streamed) == _canon(batch)

    # searches run verbatim on the streamed index and agree with batch
    assert _canon(fulltext_search(streamed, "quick turtle", mode="any")) == _canon(
        fulltext_search(batch, "quick turtle", mode="any")
    )
    assert _canon(fulltext_bm25_topk(streamed, "turtle", k=3)) == _canon(
        fulltext_bm25_topk(batch, "turtle", k=3)
    )

    # restart with the same checkpoint: nothing new -> no growth
    n = streamed.count()
    stream2 = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{docs_dir}/*/")
    )
    q2 = start_fulltext_indexing(stream2, "doc_id", "text", index_path, ckpt)
    q2.awaitTermination(120)
    assert read_postings(spark, index_path).count() == n

    # replayed delivery (fresh checkpoint, same epoch ids): every epoch
    # id is held — the index never double-counts a term
    files = committed_files(index_path)
    ckpt2 = str(base / "ckpt2")
    stream3 = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{docs_dir}/*/")
    )
    q3 = start_fulltext_indexing(stream3, "doc_id", "text", index_path, ckpt2)
    q3.awaitTermination(120)
    assert read_postings(spark, index_path).count() == n
    assert committed_files(index_path) == files
