"""The round kit every iterative operator shares: PageRank, triangle
counting, bfs, label propagation and sssp (operators/graph.py),
connected components (operators/dedup.py) and the datalog fixpoint
(plans/datalog.py). Each helper exists for one reason:

- `edge_level(df)`: the storage level of an operator's static edge
  prefix `df`, priced from the bytes of its own input (`input_bytes`:
  the optimized plan's leaf estimates, not the root's, which multiplies
  a join's inputs). At fact-scale mass it is DISK_ONLY: MEMORY_AND_DISK
  blocks pin the unified pool's storage fraction, starving the per-round
  aggregations, and are evictable, which is fatal after a lineage cut
  ("Block rdd_N does not exist"). DISK_ONLY blocks are never evicted,
  leave execution the whole pool, and re-read at page-cache speed.
  Below the budget's `edges_in_memory` gate the prefix is memory-backed
  instead: every round re-scans it, and a DISK_ONLY scan
  re-deserializes the blocks each time.
- `edge_prefix(df)`: the delta-independent edge prefix, cut ONCE at
  `edge_level`. Without the cut every round re-executes the caller's
  whole edge derivation (a fact-fact join at gate scale), and the
  re-planned derivation is free to pick a driver-fatal broadcast each
  round. The cut is lazy: it materializes inside the first round's
  action.
- `settle(df) -> (df, n)`: a lazy localCheckpoint plus its count, the
  round's ONE action. The count materializes the checkpoint, sizes the
  next round's broadcast decisions and answers the termination probe
  (an eager checkpoint plus a count or take(1) runs two actions). The
  cut keeps plan depth flat at any round count. Small per-round frames
  (O(|V|) rows) keep the default storage level.
- `bcast(df, n, wide=False)`: once checkpointed or persisted, a
  per-round frame is a stats-less LogicalRDD, so Catalyst plans a
  sort-merge join against it and re-shuffles AND re-sorts the edge
  prefix every round. `bcast` broadcasts it when the budget admits its
  measured row count `n` (`budget.broadcasts`, or `wide_broadcasts`
  for datalog-width rows), so a round is one streamed pass over the
  prefix; past the cap the sort-merge join stands.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import budget


def input_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate summed over the distinct leaves of `df`'s
    optimized plan: a relation a self-join or union scans twice counts
    once. A cached input (`InMemoryRelation`) is priced by the leaves of
    the plan it caches, so it prices the same before and after the cache
    materializes. A leaf without statistics (a createDataFrame or
    checkpoint LogicalRDD) reports spark.sql.defaultSizeInBytes."""
    sizes = {}

    def walk(plan) -> None:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "InMemoryRelation":
                walk(leaf.cacheBuilder().logicalPlan())
            else:
                sizes[leaf.semanticHash()] = int(str(leaf.stats().sizeInBytes()))

    walk(df._jdf.queryExecution().optimizedPlan())
    return sum(sizes.values())


def edge_level(df: DataFrame) -> StorageLevel:
    if budget.edges_in_memory(budget.heap_bytes(df.sparkSession), input_bytes(df)):
        return StorageLevel.MEMORY_AND_DISK
    return StorageLevel.DISK_ONLY


def edge_prefix(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False, storageLevel=edge_level(df))


def settle(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.localCheckpoint(eager=False)
    return df, df.count()


def bcast(df: DataFrame, n: int, wide: bool = False) -> DataFrame:
    admits = budget.wide_broadcasts if wide else budget.broadcasts
    return F.broadcast(df) if admits(budget.heap_bytes(df.sparkSession), n) else df
