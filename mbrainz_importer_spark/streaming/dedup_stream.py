"""Streaming incremental corpus dedup — the foreachBatch face of
operators/dedup.incremental_near_dups.

A crawl stream's micro-batches probe a STATIC corpus LSH index (band
table + shingle table, computed once and reused across every batch);
each batch's near-dup verdicts append through the idempotent epoch sink,
so a retried or replayed micro-batch never duplicates a verdict row —
the same exactly-once recipe as streaming/fulltext_stream.py and
streaming/exactly_once.py.

Per-batch cost is O(batch + collisions): the corpus is never
re-shingled, never re-banded, never self-joined. On a cluster the two
corpus-side tables are persisted bucket-sorted ((band, bucket) and doc
respectively, sources/bucketed.py) so the probe join and the verify
join are both co-located scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import incremental_near_dups, lsh_bands, shingle_rows
from ..operators.idempotency import (
    BATCH_ID_COL, IdempotentParquetSink, load_envelopes,
)


def dedup_foreach_batch(
    sink: IdempotentParquetSink,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    prefix: str = "dd",
):
    """The (batch_df, epoch_id) function for foreachBatch: probe the
    static corpus index with this micro-batch and load the verdicts
    idempotently."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        # the wrapper owns the batch-shingle cache lifetime: persist for
        # the three reads within this epoch, release once the sink has
        # materialized the verdicts — a long-lived stream must not
        # accumulate one cached frame per micro-batch
        n_sh = shingle_rows(batch_df, id_col, text_col, n).cache()
        try:
            verdicts = incremental_near_dups(
                batch_df, None, id_col, text_col, n, bands, rows_per_band,
                threshold,
                corpus_bands=corpus_bands, corpus_shingles=corpus_shingles,
                new_shingles=n_sh,
            ).withColumn(
                BATCH_ID_COL, F.concat_ws("-", F.lit(prefix), F.lit(epoch_id))
            )
            load_envelopes(sink, verdicts, batch_df.sparkSession)
        finally:
            n_sh.unpersist()

    return write


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
    """Wire a document stream into the corpus probe (availableNow: drain
    everything pending, then stop). The corpus index materializes ONCE
    (localCheckpoint) before the stream starts — micro-batches reuse it
    instead of re-deriving the corpus tables per epoch."""
    c_sh = shingle_rows(corpus, id_col, text_col, n).localCheckpoint()
    c_bands = lsh_bands(
        corpus, id_col, text_col, n, bands, rows_per_band, shingles=c_sh
    ).localCheckpoint()
    sink = IdempotentParquetSink(out_path)
    return (
        doc_stream.writeStream.foreachBatch(
            dedup_foreach_batch(
                sink, c_bands, c_sh, id_col, text_col,
                n, bands, rows_per_band, threshold,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_verdicts(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated (doc, dup_of, jaccard) verdict table."""
    return spark.read.parquet(out_path).select("doc", "dup_of", "jaccard")
