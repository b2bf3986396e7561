"""Streaming incremental corpus dedup — the foreachBatch face of
operators/dedup.incremental_near_dups.

A crawl stream's micro-batches probe a STATIC corpus LSH index (band
table + shingle table, computed once and reused across every batch);
each batch's near-dup verdicts append through the epoch ledger
(streaming/exactly_once.py), so a retried or replayed micro-batch never
duplicates a verdict row.

Per-batch cost is O(batch + collisions): the corpus is never
re-shingled, never re-banded, never self-joined. On a cluster the two
corpus-side tables are persisted bucket-sorted ((band, bucket) and doc
respectively, sources/bucketed.py) so the probe join and the verify
join are both co-located scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import incremental_near_dups, lsh_bands, shingle_rows
from ..operators.idempotency import IdempotentParquetSink
from .exactly_once import drain, idempotent_foreach_batch


def start_incremental_dedup(
    doc_stream: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    threshold: float = 0.2,
) -> StreamingQuery:
    """Drain a document stream through the corpus probe into `out_path`.
    The corpus index materializes ONCE (localCheckpoint) before the
    stream starts — micro-batches reuse it instead of re-deriving the
    corpus tables per epoch."""
    c_sh = shingle_rows(corpus, id_col, text_col, n).localCheckpoint()
    c_bands = lsh_bands(
        corpus, id_col, text_col, n, bands, rows_per_band, shingles=c_sh
    ).localCheckpoint()
    sink = IdempotentParquetSink(out_path)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        # the fold owns the batch-shingle cache lifetime: cache() is lazy,
        # so a skipped epoch computes nothing; the verdicts read it three
        # times, and it is released once they are written — a long-lived
        # stream must not accumulate one cached frame per micro-batch
        n_sh = shingle_rows(batch_df, id_col, text_col, n).cache()
        try:
            idempotent_foreach_batch(sink, "dd", lambda df: incremental_near_dups(
                df, None, id_col, text_col, n, bands, rows_per_band, threshold,
                corpus_bands=c_bands, corpus_shingles=c_sh, new_shingles=n_sh,
            ))(batch_df, epoch_id)
        finally:
            n_sh.unpersist()

    return drain(doc_stream, checkpoint, fold)


def read_verdicts(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated (doc, dup_of, jaccard) verdict table."""
    return spark.read.parquet(out_path).select("doc", "dup_of", "jaccard")
