"""Exactly-once streaming sink (SURVEY.md §2.7 'Exactly-once sink').

The reference's protocol — batch-id asserted atomically with the data,
restart skips present ids, duplicate delivery swallowed
(cognitect/xform/batch.clj:93-101) — is Structured Streaming's
idempotent `foreachBatch` recipe. Every sink under streaming/ writes
through the batch import's one write path, `load_envelopes`: the epoch
id becomes the batch_id column, and each micro-batch is one append with
its `{txes, datoms}` observed on the write. A cold sink appends without
reading a done-set. A retried or replayed epoch is dropped by the
anti-join against the ids already in the sink. Like the import, a
micro-batch with nothing new still appends one schema-only part file,
so a sink whose every epoch was empty exists with its schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.idempotency import (
    BATCH_ID_COL, IdempotentParquetSink, load_envelopes,
)


def idempotent_foreach_batch(sink: IdempotentParquetSink, prefix: str = "epoch"):
    """Returns the (batch_df, batch_id) function for
    DataStreamWriter.foreachBatch."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        with_id = batch_df.withColumn(
            BATCH_ID_COL, F.concat_ws("-", F.lit(prefix), F.lit(epoch_id))
        )
        load_envelopes(sink, with_id, batch_df.sparkSession)

    return write


def start_exactly_once(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    prefix: str = "epoch",
) -> StreamingQuery:
    """Wire a stream into the idempotent sink with availableNow (process
    everything pending, then stop — the reference's bounded-stream mode)."""
    sink = IdempotentParquetSink(sink_path)
    return (
        stream.writeStream.foreachBatch(idempotent_foreach_batch(sink, prefix))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
