"""The resource budget: the live session's heap and cores, and every
heap-priced gate as a pure function of (heap, size). It is the engine's
counterpart of the reference's channel-buffer bounds
(importer.clj:289,310): the one place a memory price is written down.

Heap: `spark.driver.memory` under a local master (the executors are
driver threads), else `spark.executor.memory`, parsed by Spark's own
`SparkConf.getSizeAsMb` (a bare number is MiB; default 1g). Cores: the
context's `defaultParallelism`, the tasks that build at once.

Prices, each against a share of the heap:

- Broadcast relation: ~128 B per row of two bigints once UnsafeRow and
  map overhead are in; ~512 B per datalog row (string a0..aN plus
  __num_aJ doubles). One relation may take heap/16, so an iterative
  operator's fresh relation per round plus a few uncollected
  predecessors stay inside the pool. `n <= heap // (16 * row)` equals
  `n * row <= heap // 16`: nested floor division composes.
- Triangle adjacency: 16 B per edge plus 128 B per row, within heap/16.
- Merge split: parquet expands ~3-5x into sort runs, so past heap/4 of
  touched partitions on disk one all-attributes sort reaches the
  heap's margin.
- Shuffled-hash-join build: it does not spill; the concurrent build
  must fit heap/4, a conservative share of unified memory.
- Edge storage level: derived edge mass is DERIVED_MASS (16x) the
  input-leaf bytes; an unsized leaf takes the disk side. The edge
  prefix stays memory-backed only within heap/8.
- Triangle spill: the intersection sort spills at most
  TRIANGLE_SPILL_BYTES per batch.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

NARROW_ROW_BYTES = 128
WIDE_ROW_BYTES = 512
TRIANGLE_SPILL_BYTES = 8 << 30
DERIVED_MASS = 16


def heap_bytes(spark: SparkSession) -> int:
    sc = spark.sparkContext._jsc.sc()
    key = "spark.driver.memory" if sc.isLocal() else "spark.executor.memory"
    return sc.conf().getSizeAsMb(key, "1g") << 20


def cores(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def broadcasts(heap: int, n_rows: int) -> bool:
    """A relation of `n_rows` narrow rows may be broadcast."""
    return n_rows <= heap // (16 * NARROW_ROW_BYTES)


def wide_broadcasts(heap: int, n_rows: int) -> bool:
    """A relation of `n_rows` datalog-width rows may be broadcast."""
    return n_rows <= heap // (16 * WIDE_ROW_BYTES)


def adjacency_broadcasts(heap: int, n_edges: int, n_src: int) -> bool:
    return n_edges * 16 + n_src * NARROW_ROW_BYTES <= heap // 16


def splits_merge(heap: int, touched_bytes: int) -> bool:
    """Stage one write per touched attribute instead of one for all."""
    return touched_bytes > heap // 4


def shj_budget(heap: int) -> float:
    return heap / 4


def edges_in_memory(heap: int, input_bytes: int) -> bool:
    """The static edge prefix may persist MEMORY_AND_DISK."""
    return input_bytes > 0 and input_bytes * DERIVED_MASS <= heap // 8


def initial_partition_floor(static_partitions: int, fact_bytes: int) -> int:
    """AQE initialPartitionNum for a tier of `fact_bytes`, never below
    `static_partitions`: a small tier keeps the static count, so a
    multi-shuffle query does not pay 256-task launch overhead per
    exchange; the fact-scale and graph tiers start every shuffle at 256,
    where plain LPA OOMed an 8g heap at 32."""
    need = fact_bytes * DERIVED_MASS // (64 << 20)
    sized = 2 ** math.ceil(math.log2(need)) if need > 1 else 1
    return max(static_partitions, min(256, sized))
