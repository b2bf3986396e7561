"""Streaming document ingest into the materialized fulltext index:
arriving document micro-batches fold through merge_fulltext_increment
(operators/fulltext.py), so the postings stay query-fresh per epoch
while each batch rewrites only the term-hash partitions it touches.

The merge's membership probe (doc-hash-pruned doclen anti-join)
dissolves redelivered docs, which makes the fold content-idempotent.
Tombstoned (excised) ids are dropped by the merge itself — the
delete-then-readd contract holds under streaming too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .exactly_once import drain


def start_fulltext_ingest(
    doc_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    from ..operators.fulltext import merge_fulltext_increment

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        merge_fulltext_increment(
            batch_df.sparkSession,
            index_path,
            batch_df.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
        )

    return drain(doc_stream, checkpoint, fold)
