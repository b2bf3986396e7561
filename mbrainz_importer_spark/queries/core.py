"""Core relational operator surface (SURVEY.md §2.2–§2.6).

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching entry in ``ORACLES`` is ANSI SQL DuckDB runs over the same parquet
tables. Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing.

Numeric discipline for oracle stability: sums over double columns go
through DECIMAL(18,2) (exact, order-independent) and are cast back to
double at the end; averages are computed as decimal-sum / count. This keeps
the Spark result bit-identical to DuckDB regardless of partial-aggregation
order — a real concern at 1000 executors, not just a test trick.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.batching import assign_batch_ids
from ..operators.ranks import grouped_topk, nth_smallest_distinct
from ..tables import load


def _dec(col: str):
    return F.col(col).cast("decimal(18,2)")


# --------------------------------------------------------------------------
# Aggregation (G4/G6/G7/G8 analogs)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide grouped aggregation with derived measures.

    Reference analog: the per-stage `{:txes,:datoms}` fold (G8,
    cognitect/xform/batch.clj:127-135) and per-attr counts
    (examples/explore_db.clj:25-31), generalized to a full grouped agg.
    Map-side partial aggregation keeps the shuffle tiny at scale.
    """
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")) / F.count(F.lit(1))).cast("double").alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")) / F.count(F.lit(1))).cast("double").alias("avg_price"),
            (F.sum(_dec("l_discount")) / F.count(F.lit(1))).cast("double").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def event_type_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: frequencies / group-count (examples/explore_db.clj:37-45)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


def distinct_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: distinct-set aggregation (batch.clj:55-60)."""
    return load(spark, sf_dir, "orders").select("o_orderpriority").distinct()


# --------------------------------------------------------------------------
# Joins (J1–J5)
# --------------------------------------------------------------------------

def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast hash lookup against a small dimension
    (importer.clj:215-224 — enum resolution). The dim side is explicitly
    broadcast so the fact scan never shuffles.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )
        .orderBy("p_brand")
    )


def zero_miss_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3 miss guard: enum values that fail to resolve must be surfaced
    (importer.clj:215-219 raises `could-not-import`). Expressed as the
    left-anti probe — on clean data the result is empty, and the engine
    raises iff count > 0 (see operators/enums.assert_no_misses).
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    part = load(spark, sf_dir, "part").select("p_partkey")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_anti")


def anti_join_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/P7: the idempotency anti-join (filter-batches, batch.clj:42-44) —
    'customers with no orders' plays the role of 'batches not yet loaded'.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way join + agg + top-k (TPC-H Q3 shape). Exercises join
    reordering and ordered limit (O1)."""
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 6-table star join with broadcast dims + grouped agg
    (TPC-H Q5 shape). region/nation broadcast; the fact-side joins shuffle
    on their keys once and AQE coalesces the rest.
    """
    region = F.broadcast(load(spark, sf_dir, "region"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(nation, sup.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy("r_name", "n_name")
    )


# the WORKLOAD-WIDE bucketed fact projection: one layout serves every
# orderkey-joining query (q3 + q5 + q18 today) — at 100 TB the layout
# is a per-workload storage investment, not a per-query one, so the
# projection is the union of the consumers' columns
_BUCKETED_LI_COLS = (
    "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
    "l_shipdate", "l_quantity", "l_partkey",
)
_BUCKETED_O_COLS = (
    "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority",
    "o_totalprice",
)


def _bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build-once-per-sf_dir orderkey-bucketed lineitem/orders tables
    (sources/bucketed.py). Rebuilds when a table predates the current
    workload projection (schema check, not just existence — widening the
    projection must invalidate old layouts) or was laid out with a
    different bucket count. The count is SIZE-ADAPTIVE (~128 MB parquet
    per bucket, floor 32, both tables share the larger side's count so
    the fact-fact join stays co-located) — with single-file-per-bucket
    writes an undersized count OOMs the sorting writers at the sf100
    tier, and production sizes buckets to data for the same reason."""
    from ..plans.eav import _table_buckets
    from ..sources.bucketed import (
        adaptive_buckets,
        ensure_bucketed_table,
        shj_min_buckets,
        write_bucketed,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    lt, ot = f"b_lineitem_{tag}", f"b_orders_{tag}"
    size_nb = adaptive_buckets(os.path.join(sf_dir, "lineitem.parquet"))
    # SHJ-aware sizing (PLAN_NOTES_r10.md §18's revisit condition): raise
    # the count until the ORDERS-side hash-relation build provably fits
    # the heap budget, so the Sort-free co-located SHJ is available to
    # the q5-shaped merge — capped at 4x the size-adaptive count so the
    # SMJ consumers' file geometry can't degrade unboundedly chasing it
    # (past the cap the SHJ face just falls back to SMJ, which spills)
    nb = max(
        size_nb,
        min(
            shj_min_buckets(
                spark, os.path.join(sf_dir, "orders.parquet"), _BUCKETED_O_COLS
            ),
            4 * size_nb,
        ),
    )

    def fresh(table: str, cols: tuple) -> bool:
        # ensure_bucketed_table re-attaches a layout an earlier process
        # left in the warehouse (in-memory catalog = no metastore), so
        # the one-time build is per MACHINE, not per process
        return (
            ensure_bucketed_table(spark, table)
            and set(cols) <= set(spark.table(table).columns)
            and _table_buckets(spark, table) == nb
        )

    if not fresh(lt, _BUCKETED_LI_COLS):
        write_bucketed(
            load(spark, sf_dir, "lineitem").select(*_BUCKETED_LI_COLS),
            lt, "l_orderkey", nb,
        )
    if not fresh(ot, _BUCKETED_O_COLS):
        write_bucketed(
            load(spark, sf_dir, "orders").select(*_BUCKETED_O_COLS),
            ot, "o_orderkey", nb,
        )
    # MERGE hint: pin the join strategy the bucket layout was built for.
    # Catalyst otherwise picks by size estimate, and a column-pruned fact
    # side under autoBroadcastJoinThreshold gets broadcast — a driver-side
    # hash relation of a fact table instead of the Exchange-free, Sort-free
    # SMJ (measured 9x on the datom store's e-join at sf10; see
    # plans/eav.py:read_datoms_bucketed). Dims explicitly F.broadcast()
    # outrank the merge hint, so dim joins keep broadcasting.
    return spark.table(lt).hint("merge"), spark.table(ot).hint("merge")


def q5_region_revenue_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q5 over ORDERKEY-BUCKETED fact storage (sources/bucketed.py —
    the 100 TB merge path): lineitem and orders persist once per sf_dir
    as bucketed+sorted managed tables keyed on the join column, so the
    fact-fact Exchange — the shuffle that dominates the plain q5 at the
    sf100 tier (24+ GB of shuffle I/O on one box) — disappears from the
    physical plan (the no-Exchange property is plan-asserted in
    tests/test_bucketed.py). Remaining joins are broadcast dims. The
    build is the one-time storage-layout investment; re-runs in the
    same session measure the co-located join. Same oracle as
    q5_region_revenue — identical results, different physical plan."""
    li, orders = _bucketed_facts(spark, sf_dir)
    region = F.broadcast(load(spark, sf_dir, "region"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    cust = F.broadcast(load(spark, sf_dir, "customer"))
    sup = F.broadcast(load(spark, sf_dir, "supplier"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(nation, sup.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy("r_name", "n_name")
    )


def q5_region_revenue_colocated_shj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q5 over the same bucketed layout, joined by a CO-LOCATED
    ShuffledHashJoin when — and only when — the orders-side build
    provably fits the heap budget (sources/bucketed.py:shj_build_plan,
    footer metadata only). The SHJ removes both explicit per-bucket
    Sorts the SMJ pays under the shape-selected trust-OFF pick
    (~20% at sf10 in the r10 probe) but its build side does not spill,
    so the hint is GATED on the bound: an adopted layout built at a
    coarser bucket count fails the bound and this face degrades to the
    SMJ plan (identical results — pinned, same oracle as
    q5_region_revenue)."""
    from ..sources.bucketed import shj_build_plan

    li, orders = _bucketed_facts(spark, sf_dir)  # ensures the layout
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    if shj_build_plan(spark, f"b_orders_{tag}")["fits"]:
        # a MERGE hint on EITHER side outranks SHUFFLE_HASH in Spark's
        # hint resolution, so the SHJ plan needs the lineitem side
        # re-read WITHOUT _bucketed_facts' merge hint; the shuffle_hash
        # hint itself outranks size-based broadcast, so the fact side
        # can't regress to a driver-side hash relation either
        li = spark.table(f"b_lineitem_{tag}")
        orders = spark.table(f"b_orders_{tag}").hint("shuffle_hash")
    region = F.broadcast(load(spark, sf_dir, "region"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    cust = F.broadcast(load(spark, sf_dir, "customer"))
    sup = F.broadcast(load(spark, sf_dir, "supplier"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(nation, sup.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy("r_name", "n_name")
    )


def q3_shipping_priority_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3 over the SAME bucketed fact layout as q5_region_revenue_bucketed
    (_bucketed_facts) — the point of a workload-wide layout: one storage
    investment serves every orderkey-joining query. The date filters push
    into the bucketed scans without disturbing the bucket partitioning,
    so the lineitem-orders join stays Exchange-free on the fact sides;
    the filtered customer dim broadcasts. Same oracle as
    q3_shipping_priority."""
    li, orders = _bucketed_facts(spark, sf_dir)
    cust = F.broadcast(
        load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    )
    orders = orders.where(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = li.where(F.col("l_shipdate") > F.lit("1995-03-15"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q18_large_orders_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q18 over the SAME workload layout (_bucketed_facts) — the third
    consumer, and the one where bucketing pays twice: the child
    aggregate groups lineitem BY THE BUCKET KEY (l_orderkey), so the
    full-corpus quantity rollup runs with no Exchange at all (partial
    and final agg collapse into the co-located scan), and the join back
    to orders is bucket-co-located on the same key. Only the few
    HAVING survivors move. Same oracle as q18_large_orders."""
    li, orders = _bucketed_facts(spark, sf_dir)
    cust = F.broadcast(load(spark, sf_dir, "customer"))
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: unique-identity upsert semantics (:db.unique/identity,
    schema.edn:29-33). A 'redelivery' of every 10th order with a new status
    merges into the base set — last-writer-wins per key, realized with a
    window dedup (operators.upsert has the general MERGE form).
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
    )
    merged = orders.withColumn("src", F.lit(0)).unionByName(updates.withColumn("src", F.lit(1)))
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("src"))
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Batching / nesting / ordering (G1–G3, O1–O2)
# --------------------------------------------------------------------------

def batch_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: deterministic fixed-size batch numbering with sequential ids
    (tx-data->batches, batch.clj:31-40; golden shape
    subsets/batches/artists.edn). The reference gets order from the file;
    we make it explicit with a stable sort key. batch_id = 'orders-N'.

    Routed through the scale-safe two-phase numbering
    (operators.batching.assign_batch_ids): parallel windows over buckets
    split at the key's approximate quantiles, plus driver-side prefix
    offsets — no 1-partition global window, so the same plan holds at
    100 TB.
    """
    orders = load(spark, sf_dir, "orders")
    numbered = assign_batch_ids(orders.select("o_orderkey"), 100, "orders", ["o_orderkey"])
    return (
        numbered.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("batch_size"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .orderBy("first_key")
    )


def nested_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G2: group child rows under their parent in order (media/tracks
    build, importer.clj:236-247). Children are collected sorted by their
    position key; serialized to a string so the oracle hash is
    representation-stable.

    The ordered limit is pushed BELOW the collect_list aggregate: the
    1000th-smallest distinct key is found first
    (ranks.nth_smallest_distinct — a bounded per-partition prefilter,
    never a full-distinct shuffle), and the heavy string-collecting
    aggregate runs only on rows at or under that threshold. The second
    scan's key filter reaches parquet (min/max row-group pruning), so
    the full corpus is never string-formatted or list-collected — an
    aggregate-through-limit pushdown Catalyst does not perform itself
    (collect_list is not duplicate-agnostic, so the generic
    LimitPushDown rule can't fire). Result identical: groups are whole
    (every line of a kept order passes the key filter) and the kept key
    set is exactly the 1000 smallest.
    """
    li = load(spark, sf_dir, "lineitem")
    thr = nth_smallest_distinct(li, "l_orderkey", 1000)
    if thr is not None:
        li = li.where(F.col("l_orderkey") <= F.lit(thr))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list(F.format_string("%02d:%d", "l_linenumber", "l_partkey"))),
            ).alias("lines"),
        )
        .orderBy("l_orderkey")
        .limit(1000)
    )


def head_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/O1: bounded head read (eio.clj:11-23) — ordered limit."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Scalar surface (§2.6) + validation (P8) + regex (P13) + set ops (O3)
# --------------------------------------------------------------------------

def scalar_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar function surface: concat_ws, lower/upper, substring,
    length, coalesce, when/otherwise, cast, abs, round, least/greatest
    (SURVEY.md §2.6; tempid synthesis importer.clj:161-164)."""
    cust = load(spark, sf_dir, "customer")
    return (
        cust.select(
            F.col("c_custkey"),
            F.concat_ws("-", F.lit("cust"), F.col("c_custkey").cast("string")).alias("tempid"),
            F.lower("c_name").alias("lname"),
            F.upper("c_mktsegment").alias("useg"),
            F.substring("c_name", 1, 8).alias("prefix8"),
            F.length("c_name").cast("bigint").alias("name_len"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("seg"),
            F.when(F.col("c_acctbal") < 0, F.lit("overdrawn")).otherwise(F.lit("ok")).alias("bal_class"),
            F.round(F.abs(F.col("c_acctbal").cast("decimal(18,2)")), 1).cast("double").alias("abs_bal"),
            F.least(F.col("c_custkey"), F.col("c_nationkey").cast("bigint")).alias("least_key"),
            F.greatest(F.col("c_custkey"), F.col("c_nationkey").cast("bigint")).alias("greatest_key"),
        )
        .orderBy("c_custkey")
        .limit(500)
    )


def regex_extract_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: regex extraction — recover the entity-type prefix of a batch-like
    id (batch-entity, examples/explore_db.clj:33-35: strip the -N suffix)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.concat_ws("-", "event_type", F.col("event_id").cast("string")).alias("batch_id")
        )
        .select(
            F.col("batch_id"),
            F.regexp_replace("batch_id", "-[0-9]+$", "").alias("entity_type"),
            F.regexp_extract("batch_id", "-([0-9]+)$", 1).cast("bigint").alias("seq_no"),
        )
        .orderBy("seq_no")
        .limit(1000)
    )


def validation_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9: spec-style range validation (entities.clj:16-17 —
    month ∈ [1,12], pos-int quantities). Returns offending rows (empty on
    clean data), mirroring validate's halt-with-explain behavior."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            ~F.col("l_quantity").between(1, 50)
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1)
            | F.col("l_extendedprice").isNull()
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date surface: year/month/dayofmonth, date_trunc, datediff
    (the reference stores dates as 3 long columns, schema.edn:58-81;
    we expose real date arithmetic)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.dayofmonth("o_orderdate")).alias("min_dom"),
            F.max(F.datediff(F.date_trunc("year", "o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))).alias("days_since_epoch_year"),
        )
        .orderBy("o_year", "o_month")
    )


def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface over events.props (get_json_object)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .where(F.col("k") > 50)
        .orderBy("event_id")
        .limit(2000)
    )


def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-2 orders per customer by total price (beyond the
    reference — declared engine surface, SURVEY.md §2.5)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 2)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    )


def window_topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resilient face of window_topk_per_group: identical rows
    and ranks from operators/ranks.grouped_topk (ObjectHashAggregate +
    per-group array_sort/slice) instead of a WindowExec. Slower than the
    window face on uniform data at every measured tier (see the
    grouped_topk docstring for the A/B) but bounds memory per GROUP
    instead of per partition — the face to reach for under power-law
    group keys. Same oracle SQL — the two faces are
    hash-interchangeable."""
    orders = load(spark, sf_dir, "orders")
    return (
        grouped_topk(
            orders,
            group_cols=["o_custkey"],
            sort_key=[-F.col("o_totalprice"), F.col("o_orderkey")],
            payload=["o_orderkey", "o_totalprice"],
            k=2,
        )
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    )


def window_topk_per_group_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAYOUT twin of window_topk_per_group (r11 verdict #5: the
    window face pays a full per-group sort that grows 11.6x/decade into
    sf100). Orders are laid out bucketed by the GROUP key and in-bucket
    sorted by (o_custkey, neg_price, o_orderkey) — the window's exact
    partition+order spec, with the DESC price pre-materialized as an
    ascending negated column since bucket sortBy is ascending-only.
    With bucket-sort trust ON (session default) the WindowExec consumes
    the scan with NEITHER Exchange NOR Sort: the top-tier cost becomes
    the scan itself, the 100 TB shape where ranking rides the layout.
    Same oracle as the window face — the faces are hash-interchangeable;
    the one-time layout build amortizes across every ranking query on
    the same group key (build/steady split as for all bucketed faces)."""
    from ..plans.eav import _table_buckets
    from ..sources.bucketed import (
        _spec_sort_cols,
        adaptive_buckets,
        ensure_bucketed_table,
        read_bucket_spec,
        write_bucketed,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    t = f"b_orders_topk_{tag}"
    nb = adaptive_buckets(os.path.join(sf_dir, "orders.parquet"))
    cols = ("o_custkey", "neg_price", "o_orderkey", "o_totalprice")
    sort_spec = ["o_custkey", "neg_price", "o_orderkey"]
    # the freshness predicate must include the SORT spec, not just
    # columns and bucket count: with bucket-sort trust ON the WindowExec
    # consumes the scan with no Sort below it, so a stale layout whose
    # in-bucket order differs from the window's order spec would return
    # silently WRONG top-k rows rather than merely slow ones
    fresh = (
        ensure_bucketed_table(spark, t)
        and set(cols) <= set(spark.table(t).columns)
        and _table_buckets(spark, t) == nb
        and _spec_sort_cols(read_bucket_spec(spark, t)) == sort_spec
    )
    if not fresh:
        write_bucketed(
            load(spark, sf_dir, "orders").select(
                "o_custkey",
                (-F.col("o_totalprice")).alias("neg_price"),
                "o_orderkey",
                "o_totalprice",
            ),
            t, "o_custkey", nb,
            sort_cols=sort_spec,
        )
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("neg_price"), F.asc("o_orderkey")
    )
    return (
        spark.table(t)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 2)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    )


def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 + engine surface: union / intersect / except over key sets."""
    cust_nations = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    sup_nations = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = cust_nations.intersect(sup_nations).withColumn("tag", F.lit("both"))
    cust_only = cust_nations.distinct().exceptAll(sup_nations.distinct()).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(cust_only).orderBy("tag", "nationkey")


def explode_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/G9: flatten nested collections (cat / mapcat transducers,
    importer.clj:229; enums->tx-data importer.clj:190-201) — posexplode of
    the embedding vectors."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.where(F.col("vec_id") < 10)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select("vec_id", F.col("pos").cast("bigint").alias("pos"), F.round(F.col("val").cast("double"), 4).alias("val"))
        .orderBy("vec_id", "pos")
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "event_type_frequencies": event_type_frequencies,
    "distinct_priorities": distinct_priorities,
    "broadcast_dim_join": broadcast_dim_join,
    "zero_miss_guard": zero_miss_guard,
    "anti_join_idempotency": anti_join_idempotency,
    "q3_shipping_priority": q3_shipping_priority,
    "q3_shipping_priority_bucketed": q3_shipping_priority_bucketed,
    "q18_large_orders_bucketed": q18_large_orders_bucketed,
    "q5_region_revenue": q5_region_revenue,
    "q5_region_revenue_bucketed": q5_region_revenue_bucketed,
    "q5_region_revenue_colocated_shj": q5_region_revenue_colocated_shj,
    "upsert_merge": upsert_merge,
    "batch_numbering": batch_numbering,
    "nested_collect": nested_collect,
    "head_limit": head_limit,
    "scalar_surface": scalar_surface,
    "regex_extract_entity": regex_extract_entity,
    "validation_guard": validation_guard,
    "date_functions": date_functions,
    "json_functions": json_functions,
    "window_topk_per_group": window_topk_per_group,
    "window_topk_per_group_agg": window_topk_per_group_agg,
    "window_topk_per_group_bucketed": window_topk_per_group_bucketed,
    "set_operations": set_operations,
    "explode_array": explode_array,
}


ORACLES = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) / COUNT(*) AS DOUBLE) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / COUNT(*) AS DOUBLE) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) / COUNT(*) AS DOUBLE) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "event_type_frequencies": """
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type
    """,
    "distinct_priorities": """
        SELECT DISTINCT o_orderpriority FROM orders
    """,
    "broadcast_dim_join": """
        SELECT p_brand, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """,
    "zero_miss_guard": """
        SELECT l_partkey FROM (SELECT DISTINCT l_partkey FROM lineitem)
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
    """,
    "anti_join_idempotency": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey
    """,
    "q3_shipping_priority": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q3_shipping_priority_bucketed": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q18_large_orders_bucketed": """
        WITH big AS (
            SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
        )
        SELECT c_custkey, c_name, o_orderkey,
               o_totalprice,
               CAST(total_qty AS DOUBLE) AS total_qty
        FROM big
          JOIN orders ON big.l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
        ORDER BY total_qty DESC, o_orderkey ASC
        LIMIT 100
    """,
    "q5_region_revenue": """
        SELECT r_name, n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
    """,
    "q5_region_revenue_bucketed": """
        SELECT r_name, n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
    """,
    "q5_region_revenue_colocated_shj": """
        SELECT r_name, n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
    """,
    "upsert_merge": """
        WITH updates AS (
            SELECT o_orderkey, 'R' AS o_orderstatus, o_totalprice, 1 AS src
            FROM orders WHERE o_orderkey % 10 = 0
        ), unioned AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src FROM orders
            UNION ALL SELECT * FROM updates
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
            FROM unioned
        )
        SELECT o_orderstatus, COUNT(*) AS n FROM ranked WHERE rn = 1
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "batch_numbering": """
        WITH numbered AS (
            SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
            FROM orders
        )
        SELECT 'orders-' || CAST(CAST(FLOOR((rn - 1) / 100) AS BIGINT) + 1 AS VARCHAR) AS batch_id,
               COUNT(*) AS batch_size,
               MIN(o_orderkey) AS first_key,
               MAX(o_orderkey) AS last_key
        FROM numbered
        GROUP BY 1 ORDER BY first_key
    """,
    "nested_collect": """
        SELECT l_orderkey, COUNT(*) AS n_lines,
               STRING_AGG(printf('%02d:%d', l_linenumber, l_partkey), ','
                          ORDER BY printf('%02d:%d', l_linenumber, l_partkey)) AS lines
        FROM lineitem
        GROUP BY l_orderkey
        ORDER BY l_orderkey
        LIMIT 1000
    """,
    "head_limit": """
        SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        ORDER BY o_orderkey LIMIT 5
    """,
    "scalar_surface": """
        SELECT c_custkey,
               'cust-' || CAST(c_custkey AS VARCHAR) AS tempid,
               LOWER(c_name) AS lname,
               UPPER(c_mktsegment) AS useg,
               SUBSTRING(c_name, 1, 8) AS prefix8,
               LENGTH(c_name) AS name_len,
               COALESCE(c_mktsegment, 'UNKNOWN') AS seg,
               CASE WHEN c_acctbal < 0 THEN 'overdrawn' ELSE 'ok' END AS bal_class,
               CAST(ROUND(ABS(CAST(c_acctbal AS DECIMAL(18,2))), 1) AS DOUBLE) AS abs_bal,
               LEAST(c_custkey, CAST(c_nationkey AS BIGINT)) AS least_key,
               GREATEST(c_custkey, CAST(c_nationkey AS BIGINT)) AS greatest_key
        FROM customer ORDER BY c_custkey LIMIT 500
    """,
    "regex_extract_entity": """
        WITH ids AS (
            SELECT event_type || '-' || CAST(event_id AS VARCHAR) AS batch_id,
                   event_id
            FROM events
        )
        SELECT batch_id,
               REGEXP_REPLACE(batch_id, '-[0-9]+$', '') AS entity_type,
               CAST(REGEXP_EXTRACT(batch_id, '-([0-9]+)$', 1) AS BIGINT) AS seq_no
        FROM ids ORDER BY seq_no LIMIT 1000
    """,
    "validation_guard": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem
        WHERE NOT (l_quantity BETWEEN 1 AND 50)
           OR l_discount < 0 OR l_discount > 1 OR l_extendedprice IS NULL
    """,
    "date_functions": """
        SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
               CAST(MONTH(o_orderdate) AS INTEGER) AS o_month,
               COUNT(*) AS n_orders,
               CAST(MIN(DAY(o_orderdate)) AS INTEGER) AS min_dom,
               CAST(MAX(DATEDIFF('day', DATE '1995-01-01', CAST(DATE_TRUNC('year', o_orderdate) AS DATE))) AS INTEGER) AS days_since_epoch_year
        FROM orders
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "json_functions": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        ORDER BY event_id LIMIT 2000
    """,
    "window_topk_per_group": """
        SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM orders
        ) WHERE rk <= 2
        ORDER BY o_custkey, rk
    """,
    "window_topk_per_group_agg": """
        SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM orders
        ) WHERE rk <= 2
        ORDER BY o_custkey, rk
    """,
    "window_topk_per_group_bucketed": """
        SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM orders
        ) WHERE rk <= 2
        ORDER BY o_custkey, rk
    """,
    "set_operations": """
        WITH cust_nations AS (SELECT c_nationkey AS nationkey FROM customer),
             sup_nations AS (SELECT s_nationkey AS nationkey FROM supplier)
        SELECT nationkey, 'both' AS tag
        FROM (SELECT nationkey FROM cust_nations INTERSECT SELECT nationkey FROM sup_nations)
        UNION ALL
        SELECT nationkey, 'cust_only' AS tag
        FROM (SELECT DISTINCT nationkey FROM cust_nations
              EXCEPT ALL SELECT DISTINCT nationkey FROM sup_nations)
        ORDER BY tag, nationkey
    """,
    "explode_array": """
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               ROUND(CAST(UNNEST(embedding) AS DOUBLE), 4) AS val
        FROM embeddings
        WHERE vec_id < 10
        ORDER BY vec_id, pos
    """,
}
