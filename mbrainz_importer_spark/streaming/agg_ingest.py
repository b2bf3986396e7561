"""Streaming aggregation into the maintained view: each micro-batch
partial-aggregates and folds into the stored state through
merge_agg_increment (operators/matview.py), whose ledger takes the
epoch id as its batch id (replay contract: streaming/exactly_once.py).
The view's stamped-stage crash protocol covers a crash inside the merge
itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .exactly_once import drain


def start_agg_ingest(
    row_stream: DataFrame,
    view_path: str,
    checkpoint: str,
    ledger_prefix: str = "epoch",
    weight_col: str | None = None,
) -> StreamingQuery:
    from ..operators.matview import merge_agg_increment

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        merge_agg_increment(
            batch_df.sparkSession,
            view_path,
            batch_df,
            batch_id=f"{ledger_prefix}_{epoch_id}",
            weight_col=weight_col,
        )

    return drain(row_stream, checkpoint, fold)
