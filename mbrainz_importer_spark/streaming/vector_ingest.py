"""Streaming embedding ingest into the materialized IVF index: arrival
micro-batches fold through merge_ivf_increment (operators/ann.py), so
the inverted lists stay fresh per epoch and only the cells each batch
lands in rewrite. The merge dedupes by vector id, which makes the fold
content-idempotent.

The centroids are plan literals (trained offline, the IVF contract) —
a re-train cadence swaps them and re-materializes, exactly the
compaction story of every index here."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .exactly_once import drain


def start_ivf_ingest(
    vec_stream: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    from ..operators.ann import merge_ivf_increment

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        merge_ivf_increment(
            batch_df.sparkSession, index_path,
            batch_df.select(id_col, vec_col), centroids,
            id_col=id_col, vec_col=vec_col,
        )

    return drain(vec_stream, checkpoint, fold)


def start_ivf_pq_ingest(
    vec_stream: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    dim: int,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """The IVF×PQ twin of start_ivf_ingest: each micro-batch encodes
    (arrow kernel) and folds through merge_ivf_pq_increment — touched
    cells only, replay-safe by id, foreign centroids/codebooks raise
    before any write (a stream configured with the wrong tables would
    otherwise poison every cell it touches, batch after batch)."""
    from ..operators.ann import merge_ivf_pq_increment

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        merge_ivf_pq_increment(
            batch_df.sparkSession, index_path,
            batch_df.select(id_col, vec_col), centroids, codebooks, dim,
            id_col=id_col, vec_col=vec_col,
        )

    return drain(vec_stream, checkpoint, fold)


def start_ivf_pq_refine_ingest(
    vec_stream: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    lo: list[float],
    hi: list[float],
    dim: int,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Streaming ingest for the two-stage refine index: each micro-batch
    encodes BOTH codes (PQ via the arrow kernel, SQ8 on the stored grid)
    and folds through merge_ivf_pq_refine_increment — touched cells
    only, replay-safe by id, and all THREE artifact sets are checked
    before any write (a stream configured against a foreign grid would
    poison the integer refine dots of every cell it touches)."""
    from ..operators.ann import merge_ivf_pq_refine_increment

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        merge_ivf_pq_refine_increment(
            batch_df.sparkSession, index_path,
            batch_df.select(id_col, vec_col), centroids, codebooks,
            lo, hi, dim, id_col=id_col, vec_col=vec_col,
        )

    return drain(vec_stream, checkpoint, fold)
