"""Incremental fulltext index maintenance over a document stream.

The batch path builds the postings (term, doc, tf) in one shot
(operators/fulltext.build_fulltext_index); at corpus scale documents
arrive continuously, and rebuilding the index per arrival is O(corpus).
This module maintains the SAME postings table incrementally: each
micro-batch tokenizes only its own documents and appends its postings
delta through the epoch ledger (streaming/exactly_once.py), so a
retried or replayed micro-batch never double-counts a term.

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
from pyspark.sql.streaming import StreamingQuery

from ..operators.fulltext import build_fulltext_index
from ..operators.idempotency import IdempotentParquetSink
from .exactly_once import drain, idempotent_foreach_batch


def start_fulltext_indexing(
    doc_stream: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Drain a document stream into the incrementally-maintained
    postings index at `index_path`: each micro-batch appends its
    tokenized postings delta."""
    return drain(doc_stream, checkpoint, idempotent_foreach_batch(
        IdempotentParquetSink(index_path), "ft",
        lambda df: build_fulltext_index(df, id_col, text_col),
    ))


def read_postings(spark: SparkSession, index_path: str) -> DataFrame:
    """The queryable index: exactly the (term, doc, tf) shape every
    operators/fulltext search function consumes."""
    return spark.read.parquet(index_path).select("term", "doc", "tf")
