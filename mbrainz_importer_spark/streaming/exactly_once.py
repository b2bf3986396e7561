"""Exactly-once streaming (SURVEY.md §2.7 'Exactly-once sink').

Every `foreachBatch` stream under streaming/ runs through `drain`:
availableNow (process everything pending, then stop — the reference's
bounded-stream mode) with progress kept in its checkpoint. The
checkpoint gives at-least-once delivery: after a failure, or under a
fresh checkpoint, an epoch is delivered again with the SAME epoch id.
A fold is replay-safe in one of two ways:

- A ledger sink (`idempotent_foreach_batch`) records the epoch's batch
  id `{prefix}-{epoch_id}` on every row, atomically with the data, and
  skips an epoch whose id the sink already holds before computing it
  (cognitect/xform/batch.clj:42-60,93-101). A new epoch's rows are one
  append with `{txes, datoms}` observed on the write, the append the
  batch import's `load_envelopes` makes. An epoch whose summary is
  empty appends a schema-only part file and has no row to carry its id,
  so its id is listed in the sink's `_empty_epochs` file (hidden from
  readers, like every `_`-prefixed name). A replay appends nothing.
- Any other fold relies on a content-idempotent merge (the datom store
  and the IVF and fulltext indexes re-merge a redelivered epoch to the
  same content) or on its own ledger (`matview.merge_agg_increment`,
  `bucketed.append_bucketed_once`).
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.idempotency import BATCH_ID_COL, IdempotentParquetSink
from ..sources import local_path

Fold = Callable[[DataFrame, int], None]


def drain(stream: DataFrame, checkpoint: str, fold: Fold) -> StreamingQuery:
    """Start `fold(batch_df, epoch_id)` over every micro-batch pending in
    `stream` (availableNow), checkpointed at `checkpoint`."""
    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def idempotent_foreach_batch(
    sink: IdempotentParquetSink,
    prefix: str,
    summarize: Callable[[DataFrame], DataFrame],
) -> Fold:
    """The fold that appends `summarize(batch_df)` to `sink` once per
    epoch, under the batch id `{prefix}-{epoch_id}`."""

    empty = Path(local_path(sink.path), "_empty_epochs")

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_id = f"{prefix}-{epoch_id}"
        if (
            empty.exists() and batch_id in empty.read_text().split()
        ) or sink.holds(batch_df.sparkSession, batch_id):
            return
        rows = summarize(batch_df).withColumn(BATCH_ID_COL, F.lit(batch_id))
        if sink.append(rows)["datoms"] == 0:
            with empty.open("a") as f:
                f.write(batch_id + "\n")

    return write


def start_exactly_once(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    prefix: str = "epoch",
) -> StreamingQuery:
    """Drain a stream's rows into the idempotent sink at `sink_path`."""
    sink = IdempotentParquetSink(sink_path)
    return drain(
        stream, checkpoint, idempotent_foreach_batch(sink, prefix, lambda df: df)
    )
