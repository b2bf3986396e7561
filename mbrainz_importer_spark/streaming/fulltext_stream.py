"""Incremental fulltext index maintenance over a document stream.

The batch path builds the postings (term, doc, tf) in one shot
(operators/fulltext.build_fulltext_index); at corpus scale documents
arrive continuously, and rebuilding the index per arrival is O(corpus).
This module maintains the SAME postings table incrementally: each
micro-batch tokenizes only its own documents and appends its postings
delta through the idempotent epoch sink — a retried or replayed
micro-batch no-ops on the batch-id anti-join, the exactly-once recipe
of streaming/exactly_once.py, so the index never double-counts a term.

No read-side compaction is needed: a document's postings land entirely
within its own micro-batch (tf is aggregated per batch over whole
documents), and corpus documents are immutable — a changed document is
a new doc id, the curation layer's convention — so per-(term, doc) rows
never span batches. The append-only deltas ARE the index:
read_postings() output runs fulltext_search / fulltext_topk /
fulltext_tfidf_topk / fulltext_bm25_topk verbatim, and an offline
write_fulltext_index_bucketed pass converts it to the term-bucketed
pruned-scan layout whenever desired.

Per-batch cost is O(batch tokens): one explode + one groupBy on the
micro-batch, never a touch of the existing index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.fulltext import build_fulltext_index
from ..operators.idempotency import (
    BATCH_ID_COL, IdempotentParquetSink, load_envelopes,
)


def indexing_foreach_batch(
    sink: IdempotentParquetSink,
    id_col: str,
    text_col: str,
    prefix: str = "ft",
):
    """The (batch_df, epoch_id) function for foreachBatch: tokenize the
    micro-batch into its postings delta and load it idempotently."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        delta = build_fulltext_index(batch_df, id_col, text_col).withColumn(
            BATCH_ID_COL, F.concat_ws("-", F.lit(prefix), F.lit(epoch_id))
        )
        load_envelopes(sink, delta, batch_df.sparkSession)

    return write


def start_fulltext_indexing(
    doc_stream: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Wire a document stream into the incrementally-maintained postings
    index (availableNow: drain everything pending, then stop — the
    bounded-stream mode used throughout streaming/)."""
    sink = IdempotentParquetSink(index_path)
    return (
        doc_stream.writeStream.foreachBatch(
            indexing_foreach_batch(sink, id_col, text_col)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_postings(spark: SparkSession, index_path: str) -> DataFrame:
    """The queryable index: exactly the (term, doc, tf) shape every
    operators/fulltext search function consumes."""
    return spark.read.parquet(index_path).select("term", "doc", "tf")
