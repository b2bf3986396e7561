"""The resource budget's gates on both sides of every boundary, and the
heap and cores it reads from a session.

The gate cells are the tier table of TIERS_r14.md at an 8 g heap (plus
the 3 g heap that moves the sf10g graph across the broadcast cap)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from mbrainz_importer_spark import budget
from mbrainz_importer_spark.operators import rounds
from mbrainz_importer_spark.session import get_spark

G = 1 << 30


@pytest.mark.parametrize("heap, n_rows, fits", [
    (8 * G, 4_194_304, True),     # the cap at 8 g
    (8 * G, 4_194_305, False),
    (8 * G, 16_000, True),        # sf0.1 graph
    (8 * G, 1_599_900, True),     # sf10g graph
    (3 * G, 1_572_864, True),     # the cap at 3 g
    (3 * G, 1_572_865, False),
    (3 * G, 1_599_900, False),    # sf10g graph at 3 g: SMJ
])
def test_graph_broadcast_cap(heap, n_rows, fits):
    assert budget.broadcasts(heap, n_rows) is fits


@pytest.mark.parametrize("n_ops, probe", [
    (1_048_576, True),    # the cap at 8 g
    (1_048_577, False),
    (17_000, True),       # sf0.1 increment
    (1_700_000, False),   # sf10 increment: straight to the merge
])
def test_noop_probe_cap(n_ops, probe):
    assert budget.wide_broadcasts(8 * G, n_ops) is probe


@pytest.mark.parametrize("touched, split", [
    (2 * G, False),       # heap/4 at 8 g
    (2 * G + 1, True),
    (1_000_000_000, False),   # sf10 touched partitions
    (18 * G, True),           # sf100 touched partitions
])
def test_merge_split_gate(touched, split):
    assert budget.splits_merge(8 * G, touched) is split


@pytest.mark.parametrize("fact_bytes, in_memory", [
    (12_000_000, True),       # sf0.1 facts
    (900_000_000, False),     # sf10g facts
    (G // 16, True),          # x16 == heap/8 at 8 g
    (G // 16 + 1, False),
    (0, False),               # unknown corpus takes the disk side
])
def test_edge_storage_level(fact_bytes, in_memory):
    assert budget.edges_in_memory(8 * G, fact_bytes) is in_memory


@pytest.mark.parametrize("n_edges, n_src, fits", [
    ((1 << 25) - 8, 1, True),   # 16 B/edge + 128 B/row == heap/16 at 8 g
    ((1 << 25) - 7, 1, False),
])
def test_triangle_adjacency_cap(n_edges, n_src, fits):
    assert budget.adjacency_broadcasts(8 * G, n_edges, n_src) is fits


def test_shj_budget_is_a_quarter_heap():
    assert budget.shj_budget(8 * G) == 2 * G


@pytest.mark.parametrize("fact_bytes, floor", [
    (13_500_000, 32),         # sf0.1: the static count
    (1_053_000_000, 256),     # sf10g
    (12_800_000_000, 256),    # sf100: capped
    (128 << 20, 32),          # sized floor == static
    ((128 << 20) + (4 << 20), 64),
])
def test_aqe_initial_partition_floor(fact_bytes, floor):
    assert budget.initial_partition_floor(32, fact_bytes) == floor


@pytest.mark.parametrize("n_rows, level", [
    (8 << 20, "MEMORY_AND_DISK"),   # 8 B/row x16 == heap/8 at 8 g
    ((8 << 20) + 1, "DISK_ONLY"),
])
def test_edge_level_prices_the_frame(spark, monkeypatch, n_rows, level):
    """rounds.edge_level prices its own frame: Range's leaf estimate is
    8 B per row, and a leaf the frame scans twice counts once."""
    monkeypatch.setattr(budget, "heap_bytes", lambda spark: 8 * G)
    df = spark.range(n_rows).select(F.col("id").alias("src"))
    df = df.unionByName(df.select((F.col("src") + 1).alias("src")))
    assert rounds.input_bytes(df) == 8 * n_rows
    assert rounds.edge_level(df) == getattr(StorageLevel, level)


def test_edge_level_unsized_leaf_takes_disk(spark, monkeypatch):
    """A createDataFrame leaf (LogicalRDD) has no size of its own: it
    reports spark.sql.defaultSizeInBytes, past any heap."""
    monkeypatch.setattr(budget, "heap_bytes", lambda spark: 1 << 50)
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert rounds.edge_level(df) == StorageLevel.DISK_ONLY


def test_cached_input_prices_what_it_caches(spark):
    """A cached frame is priced by the leaves of the plan it caches: the
    same before and after the cache materializes, and the same as the
    uncached plan (Range leaves at 8 B per row), not the join's root
    product."""
    def edges():
        big = spark.range(1_000_000).select(F.col("id").alias("src"))
        small = spark.range(1000).select(F.col("id").alias("dst"))
        return big.join(small, F.col("src") == F.col("dst"))

    cached = edges().cache()
    try:
        before = rounds.input_bytes(cached.select("src"))
        cached.count()
        after = rounds.input_bytes(cached.select("src"))
    finally:
        cached.unpersist()
    assert before == after == rounds.input_bytes(edges()) == 8_000_000 + 8_000


def test_sf_dir_prices_nothing(spark, monkeypatch, tmp_path):
    """Neither the edge level nor the session's AQE floor reads the
    TPC-H corpus directory: a 64 GiB one and a missing one change
    nothing."""
    monkeypatch.setattr(budget, "heap_bytes", lambda spark: 8 * G)
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    before = spark.conf.get(key)
    big = tmp_path / "sf_big"
    big.mkdir()
    with open(big / "lineitem.parquet", "wb") as fh:
        fh.truncate(64 * G)  # sparse: no disk is written
    df = spark.range(1000)
    seen = []
    try:
        for sf_dir in (big, tmp_path / "absent"):
            monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(sf_dir))
            assert get_spark("tests", shuffle_partitions=8) is spark
            seen.append((spark.conf.get(key), rounds.edge_level(df)))
    finally:
        spark.conf.set(key, before)
    assert seen == [(before, StorageLevel.MEMORY_AND_DISK)] * 2


@pytest.mark.parametrize("wide, n_rows, hinted", [
    (False, 4_194_304, True),     # the narrow cap at 8 g
    (False, 4_194_305, False),
    (True, 1_048_576, True),      # the wide cap at 8 g
    (True, 1_048_577, False),
])
def test_round_bcast_crosses_the_cap(spark, monkeypatch, wide, n_rows, hinted):
    """rounds.bcast hints a per-round frame exactly when the budget
    admits its measured row count."""
    monkeypatch.setattr(budget, "heap_bytes", lambda spark: 8 * G)
    df = rounds.bcast(spark.range(3), n_rows, wide=wide)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert ("strategy=broadcast" in analyzed) is hinted


def test_session_heap_and_cores(spark):
    assert budget.heap_bytes(spark) == 8 << 30
    assert budget.cores(spark) == spark.sparkContext.defaultParallelism


def _session_with(spark, local: bool, **conf) -> SimpleNamespace:
    """A stand-in session whose context is `local` or not and holds a
    fresh JVM SparkConf with `conf` (dots spelled as underscores)."""
    jconf = spark.sparkContext._jvm.org.apache.spark.SparkConf(False)
    for key, value in conf.items():
        jconf.set(key.replace("_", "."), value)
    sc = SimpleNamespace(isLocal=lambda: local, conf=lambda: jconf)
    jsc = SimpleNamespace(sc=lambda: sc)
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))


@pytest.mark.parametrize("value", ["8g", "8gb", "8192", "8192m", "8388608k"])
def test_heap_is_parsed_the_way_spark_sizes_it(spark, value):
    """A bare number is MiB, as when Spark starts the driver."""
    s = _session_with(spark, True, spark_driver_memory=value)
    assert budget.heap_bytes(s) == 8 << 30


def test_heap_reads_executor_memory_off_local(spark):
    s = _session_with(
        spark, False, spark_driver_memory="8g", spark_executor_memory="2g"
    )
    assert budget.heap_bytes(s) == 2 << 30


def test_heap_defaults_to_spark_default(spark):
    assert budget.heap_bytes(_session_with(spark, True)) == 1 << 30
