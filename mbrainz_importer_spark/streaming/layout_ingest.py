"""Streaming ingest into the bucketed fact layout: each micro-batch
folds into the bucketed table through the exactly-once append
(`sources/bucketed.py:append_bucketed_once` — staged bucket-spec'd
files, manifest-committed moves, epoch ledger), and the compaction
cadence runs INSIDE the sink: when the census flags the accumulated
append files, `compact_bucketed` collapses every bucket back to its
single sorted file before the next epoch lands.

The append's ledger takes the epoch id as its batch id (replay
contract: streaming/exactly_once.py); a replayed epoch's half-moved
files are completed from the manifest (append_bucketed_once's crash
table). The ledger survives compaction because `compact_bucketed`
moves only bucket DATA files and never rewrites the table location
wholesale — underscore-prefixed files (`_append_ledger.json` among
them) are skipped by its file census and left in place. Any future compaction strategy that drops/rebuilds the
location must re-record the ledger explicitly, or a replayed epoch
could re-append after a rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .exactly_once import drain


def start_layout_ingest(
    row_stream: DataFrame,
    table: str,
    checkpoint: str,
    ledger_prefix: str = "epoch",
    compact_after_files: int = 4,
) -> StreamingQuery:
    """Append the stream into bucketed `table` with the
    append/compact cadence. `compact_after_files`: compaction triggers
    when any bucket holds more than this many files (1 append = 1 file
    per touched bucket, so the default compacts every ~4 epochs —
    bounding both the SMJ merge-stream fan-in and the periodic rewrite
    amortization)."""
    from ..sources.bucketed import (
        append_bucketed_once,
        bucketed_compaction_due,
        compact_bucketed,
    )

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        applied = append_bucketed_once(
            batch_df, table, f"{ledger_prefix}_{epoch_id}"
        )
        if applied and bucketed_compaction_due(
            spark, table, max_files_per_bucket=compact_after_files
        ):
            compact_bucketed(spark, table)

    return drain(row_stream, checkpoint, fold)
