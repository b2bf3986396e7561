"""Derived EAV (entity-attribute-value) view over relational entity tables.

The reference's database IS a universal EAV triple store queried with
datalog (examples/explore_db.clj:13-45). Our primary storage is columnar
relational tables (SURVEY.md §1.3 model decision); this module derives the
triple view the datalog compiler consumes:

    datoms(e: string, a: string, v: string, v_num: double)

  e      — entity id: "{table}:{primary-key-value}"
  a      — attribute: ":{table}/{column}" (keyword-style, reference parity)
  v      — canonical string of the value (join key; integers formatted
           without decimal point so FK joins line up across tables)
  v_num  — numeric projection where the value is numeric (aggregations)

Null column values produce NO datom — EAV has no nulls, exactly like the
reference (absent keys, not null values; SURVEY.md §1.1a).

Scale note: the unpivot is `stack` (built-in generator, JVM-side, no
shuffle); the view is lazy and Catalyst prunes the stack to only the
attributes a query touches when the per-table frames are used directly.
For a 100 TB deployment you would materialize datoms partitioned/z-ordered
by `a` so each triple pattern becomes a partition-pruned scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import budget
from ..sources import local_path


def table_datoms(df: DataFrame, table: str, id_col: str) -> DataFrame:
    """Unpivot one entity table into datoms. The id column itself is also
    emitted as a datom — identity attributes are asserted facts in an EAV
    store (:artist/gid is a datom with :db.unique/identity, schema.edn:29-33),
    and FK value-joins against the identity attribute depend on it."""
    attrs = [f.name for f in df.schema.fields]
    pairs = []
    for c in attrs:
        dt = df.schema[c].dataType
        v_str = F.col(c).cast("string")
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            v_str = F.regexp_replace(v_str, r"\.0$", "")
        v_num = (
            F.col(c).cast("double")
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                               T.FloatType, T.DoubleType, T.DecimalType))
            else F.lit(None).cast("double")
        )
        pairs.append((f":{table}/{c}", v_str, v_num))

    exprs = []
    for a, v_str, v_num in pairs:
        exprs.append(F.struct(F.lit(a).alias("a"), v_str.alias("v"), v_num.alias("v_num")))
    e = F.concat_ws(":", F.lit(table), F.col(id_col).cast("string"))
    return (
        df.select(e.alias("e"), F.explode(F.array(*exprs)).alias("t"))
        .select("e", "t.a", "t.v", "t.v_num")
        .where(F.col("v").isNotNull())
    )


_INDEX_ORDERS = {
    "eavt": ["e", "a", "v"],
    "aevt": ["a", "e", "v"],
    "avet": ["a", "v", "e"],
    "vaet": ["v", "a", "e"],
}


def datoms_index(
    datoms: DataFrame,
    index: str = "eavt",
    e: str | None = None,
    a: str | None = None,
    v: str | None = None,
    ref_attrs: set[str] | frozenset[str] | None = None,
) -> DataFrame:
    """The `d/datoms` index-scan API: the datom set ordered as one of
    Datomic's covering indexes (EAVT entity-major, AEVT attribute-major,
    AVET attribute-value — the lookup index, VAET the reverse-ref
    index), with optional component prefix filters. On materialized
    storage each ordering is a sort-ordered/z-ordered table and a
    component filter is a partition-pruned range scan; here the filters
    push down into the parquet scan and the sort is the query's explicit
    output order.

    VAET holds only ref-typed datoms in Datomic (it IS the reverse
    index: who points at this entity) — our refs are value-joins, so
    `ref_attrs` names the ref attributes and is required for
    index='vaet'; a `v` prefix filter then answers the reverse lookup
    with a scan restricted to those attrs."""
    if index not in _INDEX_ORDERS:
        raise ValueError(f"index must be one of {sorted(_INDEX_ORDERS)}: {index}")
    out = datoms
    if index == "vaet":
        if not ref_attrs:
            raise ValueError("index='vaet' needs ref_attrs (ref-typed attributes)")
        out = out.where(F.col("a").isin(*sorted(ref_attrs)))
    for col, val in (("e", e), ("a", a), ("v", v)):
        if val is not None:
            out = out.where(F.col(col) == val)
    return out.orderBy(*_INDEX_ORDERS[index])


def materialize_datoms(datoms: DataFrame, path: str) -> None:
    """Write the datom view as attribute-partitioned parquet — the
    100 TB deployment shape the module docstring promises: one directory
    per attribute, so a triple pattern with a known attribute is a
    PARTITION-PRUNED scan (reads one attr's files, not the store).
    Attribute names (':table/col') are hive-escaped by the writer and
    restored on read."""
    datoms.write.mode("overwrite").partitionBy("a").parquet(path)


def materialize_datoms_bucketed(
    datoms: DataFrame, table: str, n_buckets: int = 32,
    coalesce_buckets: bool = True,
) -> None:
    """Attribute-partitioned AND entity-bucketed datom store — the EAVT
    locality contract as Spark storage metadata. partitionBy(a) keeps
    the pruning contract of `materialize_datoms` (a known-attribute
    pattern reads one directory); bucketBy(e)+sortBy(e) additionally
    makes every ENTITY SELF-JOIN between patterns of the same store
    co-located: both scan sides report compatible hash partitioning on
    e, so Catalyst plans the join with no Exchange on either fact side.
    The sf100 tier measured why this matters: two 150M-datom pattern
    scans joined on the string entity key shuffled hundreds of seconds
    of I/O that this layout simply removes (datalog_fact_store_bucketed
    vs datalog_fact_store_scan; no-Exchange plan-asserted in
    test_plan_properties). Bucket metadata lives in the session catalog
    (saveAsTable) — paths alone cannot carry it; the matching reader is
    `spark.table(table)`.

    `coalesce_buckets` (default on) pre-shuffles the write on
    (a, bucket-of-e) — the same Murmur3 pmod Spark's bucketing uses —
    so every (attribute partition, bucket) lands in ONE task and
    therefore ONE file. Without it a bucketed write fans out one file
    per (input task x bucket) — up to shuffle-partitions x n_buckets
    small files per partition — and, worse, Spark only trusts sortBy
    metadata when a bucket is a SINGLE file, so multi-file buckets
    re-Sort on every downstream merge join. One shuffle at write time
    buys single-file sorted buckets: minimum file count AND Sort-free
    entity self-joins forever after. The flag exists so the
    small-file cost can be measured (PLAN_NOTES_r09.md), not for
    production use."""
    _drop_stale_table(datoms.sparkSession, table)
    if coalesce_buckets:
        datoms = datoms.repartition(
            F.col("a"), F.pmod(F.hash("e"), F.lit(n_buckets))
        )
    (
        datoms.write.mode("overwrite")
        .partitionBy("a")
        .bucketBy(n_buckets, "e")
        .sortBy("e")
        .format("parquet")
        .saveAsTable(table)
    )
    # drop the on-disk bucket spec LAST so a new process can re-attach
    # the layout (sources/bucketed.py:adopt_bucketed_table) instead of
    # rebuilding it; a crash before this line leaves no spec and the
    # layout stays non-adoptable (rebuild path)
    from ..sources.bucketed import table_location, write_bucket_spec

    write_bucket_spec(
        datoms.schema,
        table_location(datoms.sparkSession, table),
        "e",
        n_buckets,
        partition_col="a",
    )


def _warehouse_table_dir(spark, table: str) -> str:
    """The managed location a table WOULD get in the session warehouse
    — for stale-location cleanup and crash recovery before the table
    exists in the (in-memory) catalog. For a live table, prefer
    `_table_location`."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return os.path.join(local_path(wh), table.lower())


def _drop_stale_table(spark, table: str) -> None:
    """Build-once tables under the IN-MEMORY catalog: a new process
    forgets the catalog entry but the managed location survives in the
    warehouse, and `saveAsTable` then fails with LOCATION_ALREADY_EXISTS
    even in overwrite mode. Drop the entry if registered; remove a
    stale orphaned location otherwise."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    stale = _warehouse_table_dir(spark, table)
    if os.path.exists(stale):
        shutil.rmtree(stale)


def read_datoms_bucketed(
    spark, table: str, columns: tuple = ("e", "a", "v", "v_num")
) -> DataFrame:
    """Read an entity-bucketed datom store (`materialize_datoms_bucketed`)
    with the join strategy the layout was BUILT for pinned: the frame
    carries a MERGE hint, so entity self-joins between pattern scans plan
    as the Exchange-free, Sort-free SortMergeJoin the bucket spec pays
    for. Without the hint Catalyst picks the join by SIZE ESTIMATE, and a
    column-pruned fact partition that lands under
    spark.sql.autoBroadcastJoinThreshold gets BROADCAST — building a
    driver-side hash relation of a fact-scale side and discarding the
    co-location entirely. Measured at the sf10 tier (45M-datom orders
    store, 15M-row o_orderstatus side under the 64 MB threshold after
    column pruning): broadcast 20.6s vs hinted merge 2.2s steady — the
    hint is a 9x on the exact query the layout exists to serve. A
    genuinely small side in a join against this frame can still
    broadcast: an explicit F.broadcast() on the other side outranks the
    merge hint in Catalyst's hint resolution."""
    return spark.table(table).select(*columns).hint("merge")


def read_datoms(spark, path: str, columns: tuple = ("e", "a", "v", "v_num")) -> DataFrame:
    """Read a materialized datom store; `.where(a == ...)` prunes to the
    attribute's partition directory (PartitionFilters in the scan).
    `columns` selects the stored projection — the default is the EAV
    view; a HISTORY log store carries (e, a, v_num, tx, added)
    (plans/history schema) through the same attribute-partitioned
    layout."""
    return spark.read.parquet(path).select(*columns)


def index_range(
    datoms: DataFrame,
    a: str,
    start=None,
    end=None,
    numeric: bool = False,
) -> DataFrame:
    """`d/index-range` analog: the AVET index slice for attribute `a`
    with v in [start, end) — half-open, exactly Datomic's contract
    (start nil = from the beginning, end nil = to the end). `numeric`
    selects the v_num projection so the range is a numeric comparison,
    not a string one.

    Scale: both the attribute equality and the range predicate are plain
    comparisons that push into the parquet scan; on storage sorted by
    (a, v) this is a contiguous index slice, never a full scan."""
    vcol = F.col("v_num") if numeric else F.col("v")
    out = datoms.where(F.col("a") == a)
    if numeric:
        out = out.where(F.col("v_num").isNotNull())
    if start is not None:
        out = out.where(vcol >= start)
    if end is not None:
        out = out.where(vcol < end)
    return out.orderBy(*(["v_num", "e"] if numeric else ["v", "e"]))


def seek_datoms(
    datoms: DataFrame,
    index: str = "eavt",
    start: tuple = (),
) -> DataFrame:
    """`d/seek-datoms`: the index scan starting AT (not filtered to) a
    component boundary — all datoms >= `start` in the chosen index's
    lexicographic order, e.g. seek_datoms(d, 'avet', (':t/score',))
    starts at that attribute and continues through every later one.
    Compiled to a pushdown-able OR-chain of comparisons (no UDF)."""
    if index not in _INDEX_ORDERS:
        raise ValueError(f"index must be one of {sorted(_INDEX_ORDERS)}: {index}")
    order = _INDEX_ORDERS[index]
    if len(start) > len(order):
        raise ValueError(f"start tuple longer than index components {order}")
    cond = None
    # lexicographic >=: (c0 > s0) OR (c0 = s0 AND c1 > s1) OR ... OR (all =)
    for i in range(len(start)):
        leg = F.col(order[i]) > F.lit(start[i])
        for j in range(i):
            leg = (F.col(order[j]) == F.lit(start[j])) & leg
        cond = leg if cond is None else (cond | leg)
    if start:
        eq = None
        for j in range(len(start)):
            e = F.col(order[j]) == F.lit(start[j])
            eq = e if eq is None else (eq & e)
        cond = cond | eq
    out = datoms.where(cond) if cond is not None else datoms
    return out.orderBy(*order)


def index_pull(
    datoms: DataFrame,
    spec: dict,
    index: str = "avet",
    start: tuple = (),
    limit: int | None = None,
) -> DataFrame:
    """`d/index-pull` analog: walk a covering index from a component
    boundary and pull each entity in index order — Datomic's paged
    bulk-read API (e.g. all artists from [:artist/name \"B\"] onward).

    Spark-first shape: seek_datoms gives the >=-boundary slice (an
    OR-chain of pushdown comparisons, a contiguous index read on sorted
    storage); each entity keeps its FIRST index position (one groupBy(e)
    with a min-struct — the walk order), the optional `limit` caps
    entities via a TakeOrdered on that position, and ONE join against
    the columnar pull projection attaches the attributes. Never a
    per-entity walk. Departure from Datomic, documented: the reference
    yields one pull per DATOM encountered (an entity repeats when
    several of its datoms fall in the slice); a distributed set engine
    dedupes to one row per entity at its first position, which is also
    what makes the result order- and oracle-stable. Output: `e`, the
    spec's columns, in walk order (ties on position impossible — the
    position struct ends with `e`)."""
    from .pull import pull_entities

    sliced = seek_datoms(datoms, index, start)
    order = _INDEX_ORDERS[index]
    pos = F.struct(*[F.col(c) for c in order])
    ents = sliced.groupBy("e").agg(F.min(pos).alias("__pos"))
    if limit is not None:
        ents = ents.orderBy("__pos").limit(limit)
    pulled = pull_entities(datoms, spec)
    return (
        ents.join(pulled, "e", "left")
        .orderBy("__pos")
        .drop("__pos")
    )


def current_datoms(
    datoms: DataFrame,
    ops: DataFrame,
    card_many: set[str] | frozenset[str] = frozenset(),
) -> DataFrame:
    """Current-state EAV after replaying tx ops over a datom set — the
    semantic core shared by the lazy with-the-log view and the storage
    merge (`merge_datoms_increment`). `ops` carries
    (e, a, v, v_num, tx, added); the base datoms count as assertions at
    tx 0 (any real op outranks them). Output is store-shaped:
    (e, a, v, v_num).

    Replay semantics (Datomic log replay; the reference's database is
    exactly such a replayed log — SURVEY.md §1.1a):
    - per (e, a, v): the datom exists iff the LATEST op asserts it
      (a retract+assert tie within one tx resolves assert-wins —
      Datomic rejects that tx outright; we take the lenient
      deterministic reading);
    - per (e, a) on cardinality-ONE attributes (every attr not in
      `card_many`): the newest surviving assertion displaces older
      values — Datomic's cardinality-one upsert. A real Datomic log
      reifies that displacement as an explicit retract op, which this
      replay also honors exactly; the implicit displacement here
      additionally covers bare-assert increments (the importer shape).
      A same-tx conflict (two values asserted at one tx) resolves to
      the lexicographically larger value rather than erroring;
    - asserting a present datom, or retracting an absent one, is a
      no-op (a datom set), which is what makes the merge idempotent
      under redelivery.

    Two hash aggregations (map-side partial agg), no window: cost is
    O(|datoms| + |ops|) with the caller expected to bound `datoms` to
    the attribute partitions the ops touch."""
    base = datoms.select(
        "e", "a", "v", "v_num",
        F.lit(0).cast("long").alias("tx"),
        F.lit(True).alias("added"),
    )
    norm = ops.select(
        F.col("e").cast("string").alias("e"),
        F.col("a").cast("string").alias("a"),
        F.col("v").cast("string").alias("v"),
        F.col("v_num").cast("double").alias("v_num"),
        F.col("tx").cast("long").alias("tx"),
        F.col("added").cast("boolean").alias("added"),
    )
    last = (
        base.unionByName(norm)
        .groupBy("e", "a", "v")
        .agg(F.max(F.struct("tx", "added", "v_num")).alias("op"))
    )
    live = last.where(F.col("op.added")).select(
        "e", "a", "v",
        F.col("op.v_num").alias("v_num"),
        F.col("op.tx").alias("tx"),
    )
    many = sorted(card_many)
    one = live.where(~F.col("a").isin(many)) if many else live
    newest = (
        one.groupBy("e", "a")
        .agg(F.max(F.struct("tx", "v", "v_num")).alias("w"))
        .select(
            "e", "a",
            F.col("w.v").alias("v"),
            F.col("w.v_num").alias("v_num"),
        )
    )
    if many:
        newest = newest.unionByName(
            live.where(F.col("a").isin(many)).select("e", "a", "v", "v_num")
        )
    return newest


def _staged_partition_dirs(root: str, col: str = "a") -> dict[str, str]:
    """Map decoded partition value -> hive-escaped `<col>=...` directory
    name for every partition under `root` (a store root or a merge
    staging root). Both sides of a swap are Spark writer output, so the
    escaping is identical and a staged dir name can be renamed into the
    destination verbatim. `col` defaults to the datom store's attribute
    partitioning; the IVF index swaps on `cell` (r13: its merge became
    write-once through this machinery instead of a second dynamic-
    overwrite pass)."""
    from urllib.parse import unquote

    pfx = col + "="
    if not os.path.isdir(root):
        return {}
    return {
        unquote(n[len(pfx):]): n
        for n in os.listdir(root)
        if n.startswith(pfx) and os.path.isdir(os.path.join(root, n))
    }


def resume_merge_swap(dest: str, stage: str | None = None) -> bool:
    """Complete a partition swap a crashed merge left half-done. The
    swap (`_swap_staged_partitions`) moves staged attribute directories
    into the store one rename at a time; it is atomic per partition but
    not across partitions. The manifest written before the first move
    records which attributes were staged and which were emptied, so
    completion is deterministic and idempotent from any interruption
    point: a staged attribute still present in staging is (re)swapped
    in, one already moved is left alone (its absence from staging is
    the done marker — the rmtree of the old directory only ever runs
    while the staged replacement exists), and emptied attributes are
    removed from the store if still present. `merge_datoms_increment`
    calls this on entry, so a retried indexing job self-heals before
    applying its own increment — the same redelivery contract as the
    transactional sink (reference cognitect/xform/batch.clj:42-60).
    Returns whether a manifest was found (and the swap completed)."""
    import json
    import shutil

    stage = stage if stage is not None else _stage_root(dest)
    manifest_path = os.path.join(stage, "_MERGE_MANIFEST.json")
    if not os.path.exists(manifest_path):
        return False
    with open(manifest_path) as f:
        manifest = json.load(f)
    # the manifest records its partition column (default 'a' for
    # pre-r13 manifests written by the datom store)
    col = manifest.get("col", "a")
    staged_now = _staged_partition_dirs(stage, col)
    dest_dirs = _staged_partition_dirs(dest, col)
    for a in manifest["emptied"]:
        if a in dest_dirs:
            shutil.rmtree(os.path.join(dest, dest_dirs[a]))
    for a in manifest["staged"]:
        if a in staged_now:
            if a in dest_dirs:
                shutil.rmtree(os.path.join(dest, dest_dirs[a]))
            os.rename(
                os.path.join(stage, staged_now[a]),
                os.path.join(dest, staged_now[a]),
            )
    return True


def _swap_staged_partitions(
    stage: str, dest: str, touched: list[str], col: str = "a"
) -> dict:
    """Swap freshly-written staged partition directories into the store
    root by directory rename — the commit step of the write-once merge.
    Writes the recovery manifest first (staged = partitions present in
    staging; emptied = touched partitions the merge left with zero
    rows), then runs the same completion logic a crash recovery
    would, so there is exactly one code path for the moves. `col` is
    the hive partition column of both layouts (recorded in the
    manifest so recovery needs no out-of-band knowledge). Returns the
    manifest."""
    import json

    staged = sorted(_staged_partition_dirs(stage, col))
    manifest = {
        "col": col,
        "staged": staged,
        "emptied": sorted(set(touched) - set(staged)),
    }
    # atomic manifest: a torn write would loudly block every later
    # merge (resume raises on malformed JSON, by design); write+rename
    # removes that window — the manifest either exists whole or not
    final = os.path.join(stage, "_MERGE_MANIFEST.json")
    with open(final + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.rename(final + ".tmp", final)
    resume_merge_swap(dest, stage)
    return manifest


def _stage_root(anchor: str) -> str:
    return anchor.rstrip("/") + ".__merge_staging"


def _partition_bytes(root: str, attrs: list[str]) -> int:
    """On-disk bytes of the `a=` partitions of `attrs` under `root` — a
    driver-side directory listing, never a Spark job."""
    dirs = _staged_partition_dirs(root)
    parts = [os.path.join(root, dirs[a]) for a in attrs if a in dirs]
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d in parts
        for f in os.listdir(d)
        if os.path.isfile(os.path.join(d, f))
    )


def _read_swap_manifest(stage: str) -> dict | None:
    import json

    p = os.path.join(stage, "_MERGE_MANIFEST.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _sync_partition_registrations(spark, table: str, manifest: dict | None) -> None:
    """Bring the catalog's partition list in line with a completed
    directory swap: the in-memory catalog tracks a partitioned
    datasource table's partitions, so a renamed-in NEW attribute
    directory is invisible until registered (silent missing rows) and
    a removed one lingers registered. Ends with a file-index refresh."""
    if manifest:
        for a in manifest["staged"]:
            esc = a.replace("'", "''")
            spark.sql(
                f"ALTER TABLE `{table}` ADD IF NOT EXISTS "
                f"PARTITION (a='{esc}')"
            )
        for a in manifest["emptied"]:
            esc = a.replace("'", "''")
            spark.sql(
                f"ALTER TABLE `{table}` DROP IF EXISTS PARTITION (a='{esc}')"
            )
    spark.catalog.refreshTable(table)


def _increment_is_noop(existing: DataFrame, ops: DataFrame) -> bool:
    """True iff replaying `ops` over `existing` provably changes
    nothing — the redelivery fast path shared by both store merges
    (the IVF/fulltext merges' dissolve-before-the-write discipline).

    Sufficient condition, conservative by construction under
    current_datoms' replay rules: every asserted (e, a, v, v_num)
    already exists as a live row (asserting a present datom is a
    no-op; for card-one the newest assertion then re-elects the same
    value) AND no retracted (e, a, v, v_num) matches a live row
    (retracting an absent datom is a no-op). Any op not provably inert
    — including order-dependent cases like a lower-tx retract of a
    present value, which the replay would ignore — falls through to
    the real merge, so a skip is always content-exact. Null-safe
    comparisons throughout (v_num is NULL for string attributes).

    Cost: one probe pass — the touched-pruned existing scan streamed
    against the broadcast increment, reduced to two counters (map-side
    partial aggregation, no data shuffle). A redelivery trades that
    read for the whole sort + write + swap of the touched partitions;
    a genuine merge pays it as overhead (one extra columnar read of
    partitions the merge re-reads anyway) — the same trade the crash
    contract already makes redelivery-first."""
    norm = ops.select(
        F.col("e").cast("string").alias("e"),
        F.col("a").cast("string").alias("a"),
        F.col("v").cast("string").alias("v"),
        F.col("v_num").cast("double").alias("v_num"),
        F.col("added").cast("boolean").alias("added"),
    )
    totals = {
        r["added"]: r["count"]
        for r in norm.groupBy("added").count().collect()
    }
    # NULL-added ops are NOT inert: the replay lets one win the
    # max-struct per (e, a, v) and then drops the datom at
    # where(op.added) — declaring them no-ops would skip a merge that
    # actually removes live rows (r13 ADVICE). They are also invisible
    # to the assert/retract counters below, so fall through outright.
    if totals.get(None, 0) > 0:
        return False
    n_ops = totals.get(True, 0) + totals.get(False, 0)
    if n_ops == 0:
        return True
    # The probe broadcasts the increment (the only orientation that
    # never hashes the store side). merge_datoms_increment's contract
    # only bounds ops as "the tx-log batch" — a bulk-sized increment
    # must not be forced through the broadcast-relation limit just to
    # ask whether it is a redelivery: past the budget's wide-row cap
    # skip the probe and go straight to the real merge.
    if not budget.wide_broadcasts(budget.heap_bytes(existing.sparkSession), n_ops):
        return False
    # the store side STREAMS and the increment broadcasts (the only
    # scalable orientation — any shape that preserves the increment
    # side would build a hash relation of the store partitions), so
    # presence is decided by match-counting: live rows are unique per
    # (e, a, v) and identical duplicate ops each match, so matched
    # asserts == total asserts <=> every assert is present
    ex = existing.select(
        F.col("e").alias("__xe"),
        F.col("a").alias("__xa"),
        F.col("v").alias("__xv"),
        F.col("v_num").alias("__xn"),
    )
    matched = {
        r["added"]: r["count"]
        for r in ex.join(
            F.broadcast(norm),
            F.col("e").eqNullSafe(F.col("__xe"))
            & F.col("a").eqNullSafe(F.col("__xa"))
            & F.col("v").eqNullSafe(F.col("__xv"))
            & F.col("v_num").eqNullSafe(F.col("__xn")),
            "inner",
        )
        .groupBy("added")
        .count()
        .collect()
    }
    return (
        matched.get(True, 0) == totals.get(True, 0)
        and matched.get(False, 0) == 0
    )


def _stage_merge(
    spark,
    merged: DataFrame,
    anchor: str,
    columns: tuple = ("e", "a", "v", "v_num"),
) -> DataFrame:
    """Break the read-from/write-to-the-same-path cycle of an in-place
    merge by STAGING the merged rows as parquet next to the store and
    reading them back — the writer's plan then scans the staging files,
    never the partitions it replaces. Disk-backed on purpose: the
    touched partitions' row count is unbounded at store scale, so
    pinning them with an in-memory checkpoint stalls the executors
    (measured: a 30M-row localCheckpoint GC-stalled an 8g local[32]
    heap at the sf10 tier; the staged form runs in constant memory)."""
    stage = _stage_root(anchor)
    merged.select(*columns).write.mode("overwrite").parquet(stage)
    return spark.read.parquet(stage)


def _drop_stage(anchor: str) -> None:
    import shutil

    stage = _stage_root(anchor)
    if os.path.exists(stage):
        shutil.rmtree(stage)


class _PathLayout:
    """A datom store at a parquet path (`materialize_datoms`): staged in
    the sibling `_stage_root(path)` directory, committed by refreshing
    the path's cached file index."""

    def __init__(self, spark, path: str):
        self.spark, self.loc = spark, path

    def heal(self) -> None:
        if resume_merge_swap(self.loc, self.stage_dir()):
            self.spark.catalog.refreshByPath(self.loc)
        _drop_stage(self.loc)

    def read(self) -> DataFrame:
        return read_datoms(self.spark, self.loc)

    def write_stage(self, df: DataFrame, first: bool) -> None:
        (
            df.select("e", "a", "v", "v_num")
            .write.mode("overwrite" if first else "append")
            .partitionBy("a")
            .parquet(self.stage_dir())
        )

    def stage_dir(self) -> str:
        return _stage_root(self.loc)

    def commit(self, manifest: dict) -> None:
        _drop_stage(self.loc)
        self.spark.catalog.refreshByPath(self.loc)


class _TableLayout:
    """An entity-bucketed catalog table (`materialize_datoms_bucketed`):
    staged in the table `table + suffix` with the identical bucket/sort
    spec (bucket-file names encode the bucket id, so a renamed file
    keeps its bucket identity), committed by re-syncing the catalog's
    partition list."""

    def __init__(self, spark, table: str, suffix: str = "__mergestage"):
        self.spark, self.table = spark, table
        self.stage_table = table + suffix
        self.loc = _table_location(spark, table)
        self.nb = _table_buckets(spark, table)

    def heal(self) -> None:
        # the stage table's LOCATION survives a process death (the
        # catalog is in-memory): a manifest there means the predecessor
        # died mid-swap, possibly before registering its partitions
        stale = _warehouse_table_dir(self.spark, self.stage_table)
        manifest = _read_swap_manifest(stale)
        if resume_merge_swap(self.loc, stale):
            _sync_partition_registrations(self.spark, self.table, manifest)
        _drop_stale_table(self.spark, self.stage_table)

    def read(self) -> DataFrame:
        return self.spark.table(self.table).select("e", "a", "v", "v_num")

    def write_stage(self, df: DataFrame, first: bool) -> None:
        from ..sources.bucketed import writer_partitions

        # pre-shuffle on (a, bucket-of-e): every (partition, bucket)
        # lands in one task, so it is written as one sorted file
        (
            df.repartition(
                writer_partitions(self.spark, self.nb),
                F.col("a"), F.pmod(F.hash("e"), F.lit(self.nb)),
            )
            .select("e", "a", "v", "v_num")
            .write.mode("overwrite" if first else "append")
            .partitionBy("a")
            .bucketBy(self.nb, "e")
            .sortBy("e")
            .format("parquet")
            .saveAsTable(self.stage_table)
        )

    def stage_dir(self) -> str:
        return _table_location(self.spark, self.stage_table)

    def commit(self, manifest: dict) -> None:
        # the swap moved files the catalog never saw: a new attribute's
        # partition is invisible until registered, and an emptied one
        # stays registered until dropped
        _sync_partition_registrations(self.spark, self.table, manifest)
        _drop_stale_table(self.spark, self.stage_table)


def _merge_touched(
    layout, ops: DataFrame, card_many: set[str] | frozenset[str]
) -> None:
    """The indexing job of both datom-store layouts: heal a half-done
    swap, probe for a redelivery, stage the merged touched partitions,
    swap them in, commit. `layout` (`_PathLayout`, `_TableLayout`)
    says how the store is read, staged and committed."""
    # materialize the increment ONCE: the touched listing, the no-op
    # probe and every staged write consume it. O(increment) rows by
    # contract (the tx-log batch), never store-scale — the _stage_merge
    # caveat about checkpointing unbounded merged rows does not apply.
    ops = ops.localCheckpoint()
    touched = sorted(r.a for r in ops.select("a").distinct().collect())
    if not touched:
        return
    layout.heal()
    existing = layout.read().where(F.col("a").isin(touched))
    # redelivery fast path: a provably inert increment (crash-retry or
    # duplicate delivery) skips the touched-partition rewrite
    if _increment_is_noop(existing, ops):
        return
    # Split gate (budget.splits_merge): past it, stage one write per
    # touched attribute; otherwise one write for all of them.
    # Per-attribute writes bound the peak to the largest partition, at
    # one job's overhead per attribute. Either grouping is exact:
    # current_datoms is keyed on (e, a), so restricting both inputs to
    # a set of attributes partitions the same computation. Crash
    # contract: the swap runs only after every group is staged, so a
    # death mid-stage leaves the store untouched.
    split = budget.splits_merge(
        budget.heap_bytes(layout.spark), _partition_bytes(layout.loc, touched)
    )
    groups = [[a] for a in touched] if split else [touched]
    for i, group in enumerate(groups):
        in_group = F.col("a").isin(group)
        layout.write_stage(
            current_datoms(
                existing.where(in_group), ops.where(in_group), card_many
            ),
            first=i == 0,
        )
    stage = layout.stage_dir()
    layout.commit(_swap_staged_partitions(stage, layout.loc, touched))


def merge_datoms_increment(
    spark,
    path: str,
    ops: DataFrame,
    card_many: set[str] | frozenset[str] = frozenset(),
) -> None:
    """Datomic's background INDEXING job, Spark-first: fold a tx-log
    increment into the attribute-partitioned store at `path`, rewriting
    ONLY the attribute partitions the increment touches. At 100 TB the
    store is the engine and a full-store rewrite per batch is a
    non-starter; this is O(touched partitions + increment) — untouched
    attribute directories are never read, never written (file-identity
    asserted in test_index_merge).

    Write-once commit: the merged rows are written ONCE,
    attribute-partitioned, into a staging sibling, and the staged
    partition directories are renamed into the store
    (`_swap_staged_partitions`). The swap is atomic per partition, not
    across partitions; a crash mid-swap is healed by the manifest
    (`resume_merge_swap`, called on entry here), and a crash mid-stage
    leaves the store untouched.

    Idempotent: re-merging the same increment is a no-op on content
    (set semantics + max-tx displacement), so a crashed-and-retried
    indexing job heals itself — the same redelivery contract as the
    transactional sink (operators/idempotency.py; reference
    cognitect/xform/batch.clj:42-60 restarts the same way).

    An increment that retracts an attribute's every datom EMPTIES that
    partition; the partitioned writer cannot express an empty
    partition, so the swap removes the emptied directory (the
    manifest's `emptied` set)."""
    _merge_touched(_PathLayout(spark, path), ops, card_many)


def merge_datoms_increment_bucketed(
    spark,
    table: str,
    ops: DataFrame,
    card_many: set[str] | frozenset[str] = frozenset(),
) -> None:
    """The incremental indexing job over the ENTITY-BUCKETED store
    (`materialize_datoms_bucketed`) — same replay semantics as
    `merge_datoms_increment`, same touched-partitions-only cost, and
    the rewritten files carry the table's bucket spec: after any number
    of merges the entity self-join between attribute partitions stays
    Exchange-free (probe-verified and plan-asserted in
    test_index_merge).

    Write-once commit: the merged rows are written ONCE into a staging
    TABLE with the identical bucket/sort spec, then the staged
    partition directories swap into the real table's location and the
    catalog's partition list re-syncs. Crash contract as
    `merge_datoms_increment`.

    The write pre-shuffles on (a, bucket-of-e), so a touched partition
    comes back as exactly n_buckets single-file sorted buckets — the
    file count is an invariant across any number of merges, not an
    LSM accumulation (`compaction_due` still polices it: a writer
    outside this path, or a non-coalesced build, shows up in the
    census and `compact_store` repairs it).

    A fully-retracted attribute's partition is removed by the swap and
    deregistered from the catalog (a partitioned writer cannot express
    an empty partition)."""
    _merge_touched(_TableLayout(spark, table), ops, card_many)


def excise_store(
    spark,
    path: str,
    entities: list[str] | set[str],
    attrs: set[str] | frozenset[str] | None = None,
) -> None:
    """Excision on the MATERIALIZED store — the right-to-be-forgotten
    rewrite (plans/history.py:excise is the log-side twin; reference
    semantics: :db/excise erases every trace, and it is a segment
    rewrite in Datomic too). Expressed as a merge of retractions: the
    doomed entities' datoms become retract ops and fold through
    `merge_datoms_increment`, so only the attribute partitions that
    actually held their datoms rewrite; every other partition keeps its
    files byte-identical. Idempotent — re-excising erased entities
    retracts absent datoms, a no-op.

    `entities` is a bounded driver-side list (excision requests are
    per-subject by nature). Finding the datoms scans all partitions
    with an `e` pushdown unless `attrs` narrows the search — the same
    cost Datomic pays; pass `attrs` when the schema is known."""
    doomed = read_datoms(spark, path).where(
        F.col("e").isin(sorted(entities))
    )
    if attrs is not None:
        doomed = doomed.where(F.col("a").isin(sorted(attrs)))
    ops = doomed.select(
        "e", "a", "v", "v_num",
        F.lit(2**62).alias("tx"),
        F.lit(False).alias("added"),
    )
    merge_datoms_increment(spark, path, ops)


def excise_store_bucketed(
    spark,
    table: str,
    entities: list[str] | set[str],
    attrs: set[str] | frozenset[str] | None = None,
) -> None:
    """`excise_store` for the entity-bucketed catalog table: same
    retraction-merge, routed through `merge_datoms_increment_bucketed`
    so the surviving partitions keep their bucket spec (and their
    Exchange-free entity self-joins)."""
    doomed = spark.table(table).select("e", "a", "v", "v_num").where(
        F.col("e").isin(sorted(entities))
    )
    if attrs is not None:
        doomed = doomed.where(F.col("a").isin(sorted(attrs)))
    ops = doomed.select(
        "e", "a", "v", "v_num",
        F.lit(2**62).alias("tx"),
        F.lit(False).alias("added"),
    )
    merge_datoms_increment_bucketed(spark, table, ops)


def _table_buckets(spark, table: str) -> int:
    """Bucket count from the catalog — the write-side repartition must
    mirror the table's bucket spec exactly."""
    row = (
        spark.sql(f"DESCRIBE FORMATTED `{table}`")
        .where("col_name = 'Num Buckets'")
        .first()
    )
    return int(row[1])


def _table_location(spark, table: str) -> str:
    loc = (
        spark.sql(f"DESCRIBE FORMATTED `{table}`")
        .where("col_name = 'Location'")
        .first()[1]
    )
    return local_path(loc)


def compact_store(spark, table: str, n_buckets: int | None = None) -> None:
    """Compaction for the bucketed store: rewrite the table from
    itself so each (partition, bucket) collapses back to one sorted
    file. Content-preserving by construction — same rows, same layout
    contract; the reference transactor runs the same periodic
    re-index. `n_buckets` defaults to the table's CURRENT bucket spec
    (compaction repairs files, it doesn't resize the layout — pass a
    count explicitly to re-bucket).

    Same-spec compaction (the maintenance-loop case) commits through
    the bucketed merge's table layout: one bucketed write into the
    `__compactstage` table, then the write-once partition swap and a
    catalog re-sync. A crashed swap is content-safe here (old and new partitions hold identical rows) and
    is healed on the next compaction's entry. Resizing still rebuilds
    through `materialize_datoms_bucketed` — a bucket-count change is a
    new catalog spec, which a file swap cannot express."""
    layout = _TableLayout(spark, table, "__compactstage")
    if n_buckets is None or n_buckets == layout.nb:
        layout.heal()
        layout.write_stage(layout.read(), first=True)
        stage = layout.stage_dir()
        every = sorted(_staged_partition_dirs(stage))
        layout.commit(_swap_staged_partitions(stage, layout.loc, every))
        return
    snapshot = _stage_merge(spark, layout.read(), layout.loc)
    materialize_datoms_bucketed(snapshot, table, n_buckets)
    _drop_stage(layout.loc)


def store_file_census(location: str) -> dict:
    """Per-partition data-file census of a partitioned store location:
    {partition_dir: {"files": n, "bytes": b}}. Metadata-only — a
    driver-side directory listing (the Hadoop FS listing in
    production; never a data scan), the same price every planner pays
    to enumerate splits. Hidden/bookkeeping files (`_SUCCESS`,
    `.crc`) and merge-staging directories are excluded."""
    import os

    census: dict = {}
    for d in sorted(os.listdir(location)):
        p = os.path.join(location, d)
        if not os.path.isdir(p) or d.endswith(".__merge_staging"):
            continue
        files = [
            f for f in os.listdir(p)
            if not f.startswith(("_", ".")) and not f.endswith(".crc")
        ]
        census[d] = {
            "files": len(files),
            "bytes": sum(os.path.getsize(os.path.join(p, f)) for f in files),
        }
    return census


def compaction_due(
    spark,
    table: str,
    n_buckets: int | None = None,
    max_files_per_bucket: int = 2,
    small_file_bytes: int | None = None,
) -> tuple[bool, dict]:
    """The compaction CADENCE as a policy, not a docstring. The
    coalesced write paths keep each partition at exactly n_buckets
    single-file sorted buckets, so a healthy store is NEVER due — the
    policy is the tripwire for everything else: a table built before
    the coalesce discipline, a writer outside the merge path, or
    (opt-in, for production file sizes) partitions whose mean data
    file falls below `small_file_bytes` (32 MB is a sane floor on an
    object store; the default None keeps the trigger off at test
    scale where every file is tiny). Fragmented buckets are not just
    a file-count tax: Spark only trusts the bucket sort for
    single-file buckets, so fragmentation re-inserts a Sort under
    every downstream merge join — measured at sf1 in
    PLAN_NOTES_r09.md. Due when any partition carries more than
    `max_files_per_bucket * n_buckets` data files or trips the
    small-file floor. Returns (due, census) — census from
    `store_file_census`, so callers can log WHY."""
    if n_buckets is None:
        n_buckets = _table_buckets(spark, table)
    census = store_file_census(_table_location(spark, table))
    cap = max_files_per_bucket * n_buckets
    due = any(c["files"] > cap for c in census.values())
    if not due and small_file_bytes is not None:
        due = any(
            c["files"] > 1 and c["bytes"] / c["files"] < small_file_bytes
            for c in census.values()
        )
    return due, census


def compact_store_if_due(
    spark,
    table: str,
    n_buckets: int | None = None,
    max_files_per_bucket: int = 2,
    small_file_bytes: int | None = None,
) -> bool:
    """`compact_store` behind the cadence policy — the call a
    maintenance loop makes after every merge batch. Returns whether a
    compaction ran. Idempotent: a fresh or just-compacted table is
    never due (each (partition, bucket) holds one file), so back-to-
    back calls are census-only no-ops."""
    due, _ = compaction_due(
        spark, table, n_buckets, max_files_per_bucket, small_file_bytes
    )
    if due:
        compact_store(spark, table, n_buckets)
    return due


def filtered(datoms: DataFrame, pred: "F.Column") -> DataFrame:
    """`d/filter` analog — a predicate-filtered DATABASE VALUE: the
    datom set restricted to rows satisfying `pred`, returned as a frame
    with the same schema, so every consumer that takes a datoms/log
    frame (datalog `q`, `pull_entities`, `entity`, `datoms_index`,
    history's `as_of`/`since`) composes with it unchanged — exactly how
    Datomic's filtered db flows through q/pull/datoms.

    `pred` is a Column over the datom columns (e, a, v, v_num — plus
    tx/added when filtering a history log), e.g. the security-trim
    idiom `~F.col('a').startswith(':secret/')`. Datomic's d/filter
    takes (db, datom) -> bool; value-based predicates (the overwhelming
    use: attr namespaces, entity prefixes, tx ranges) express directly,
    and staying a Column keeps the filter a PUSHDOWN predicate — on the
    attribute-partitioned store an attr-namespace trim prunes whole
    partitions instead of evaluating per-datom."""
    return datoms.where(pred)


def attr_namespace_pred(*namespaces: str, exclude: bool = False) -> "F.Column":
    """Predicate Column for `filtered`: datoms whose attribute sits in
    one of the ':ns/...' namespaces (or OUTSIDE all of them with
    exclude=True) — the common d/filter shape (hide :secret/*, expose
    only :public/*)."""
    if not namespaces:
        raise ValueError("attr_namespace_pred needs at least one namespace")
    cond = None
    for ns in namespaces:
        leg = F.col("a").startswith(ns.rstrip("/") + "/")
        cond = leg if cond is None else (cond | leg)
    return ~cond if exclude else cond


def build_datoms(tables: dict[str, tuple[DataFrame, str]]) -> DataFrame:
    """Union the datom views of {table: (df, id_col)}."""
    out = None
    for table, (df, id_col) in tables.items():
        d = table_datoms(df, table, id_col)
        out = d if out is None else out.unionByName(d)
    if out is None:
        raise ValueError("no tables")
    return out


_DB_TYPE_OF_SPARK = [
    ((T.ByteType, T.ShortType, T.IntegerType, T.LongType), ":db.type/long"),
    ((T.FloatType, T.DoubleType, T.DecimalType), ":db.type/double"),
    ((T.TimestampType, T.TimestampNTZType, T.DateType), ":db.type/instant"),
    ((T.BooleanType,), ":db.type/boolean"),
]


def schema_datoms(
    spark,
    tables: dict[str, tuple[DataFrame, str]],
    components: set[str] | frozenset[str] = frozenset(),
    fulltext: set[str] | frozenset[str] = frozenset(),
) -> DataFrame:
    """Schema-as-data: the schema itself as queryable datoms, exactly
    how Datomic exposes it (subsets/entities/schema.edn:1-298 is a list
    of attribute entities carrying :db/ident, :db/valueType,
    :db/cardinality, :db/unique, :db/isComponent, :db/fulltext,
    :db/doc — and examples/explore_db.clj:13-18 queries them with the
    SAME datalog as the data). One schema entity 'db.attr:{table}/{col}'
    per attribute; :db/unique (:db.unique/identity) is asserted on id
    columns, :db/isComponent on attrs named in `components`,
    :db/fulltext true on attrs named in `fulltext` (schema.edn:37,183,269
    flags artist/release/track names this way; the datalog (fulltext ...)
    clause is the query-side counterpart) — Datomic-style, absent means
    false, EAV has no nulls.

    Metadata only: built driver-side from the StructTypes, O(#attrs)
    rows, no data scan — union it with build_datoms() for a db whose
    schema and data answer the same queries."""
    rows = []
    for table, (df, id_col) in tables.items():
        for fld in df.schema.fields:
            e = f"db.attr:{table}/{fld.name}"
            ident = f":{table}/{fld.name}"
            vtype = ":db.type/string"
            for classes, t_name in _DB_TYPE_OF_SPARK:
                if isinstance(fld.dataType, classes):
                    vtype = t_name
                    break
            rows.append((e, ":db/ident", ident))
            rows.append((e, ":db/valueType", vtype))
            rows.append((e, ":db/cardinality", ":db.cardinality/one"))
            if fld.name == id_col:
                rows.append((e, ":db/unique", ":db.unique/identity"))
            if ident in components:
                rows.append((e, ":db/isComponent", "true"))
            if ident in fulltext:
                rows.append((e, ":db/fulltext", "true"))
            rows.append((e, ":db/doc", f"Attribute {fld.name} of table {table}"))
    from ..operators.localrel import local_df

    return local_df(
        spark,
        [(e, a, v, None) for e, a, v in rows],
        "e string, a string, v string, v_num double",
    )


def alter_ident(datoms: DataFrame, old: str, new: str) -> DataFrame:
    """Schema alteration: rename an attribute's :db/ident — Datomic's
    `{:db/id old-ident :db/ident new-ident}` alteration. The attribute
    ENTITY is unchanged (same datoms, same history); only the name
    rewrites: every data datom's `a`, and the schema entity's
    :db/ident VALUE (so `entid(d, new)` finds the attr entity and
    queries compile against the new name). Datomic keeps the old ident
    resolvable as an alias; pass the returned frame plus
    `{old: new}` to query-side callers that must accept legacy text
    (plans/query_edn callers can pre-rewrite with it).

    Pure projection (two conditional replaces, no shuffle); on the
    attr-partitioned store a rename is a metadata-level partition move
    you would run as one partition rewrite, not a full-store scan."""
    a2 = F.when(F.col("a") == old, F.lit(new)).otherwise(F.col("a"))
    v2 = F.when(
        (F.col("a") == ":db/ident") & (F.col("v") == old), F.lit(new)
    ).otherwise(F.col("v"))
    return datoms.withColumn("a", a2).withColumn("v", v2)


# ---------------------------------------------------------------------------
# Backup / restore (Datomic `backup-db` / `restore-db`)
# ---------------------------------------------------------------------------

def store_fingerprint(spark, path: str) -> tuple[int, int]:
    """Order-independent content fingerprint of a store tree:
    (row count, sum of per-row xxhash64 over the name-sorted stringified
    columns, accumulated in decimal so it never overflows). Independent
    of file layout, partition order, and row order — the property a
    backup check needs, because a restore or compaction legitimately
    reshuffles bytes while preserving content."""
    df = spark.read.parquet(path)
    h = F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"]) if row["s"] is not None else 0


def backup_store(spark, store_path: str, backup_root: str) -> dict:
    """Datomic `backup-db` analog: snapshot the store tree under
    `backup_root/data` and write `backup_root/MANIFEST.json` recording
    row count, content fingerprint, and the per-partition file census.

    The byte transport here is a local tree copy; at 100 TB it is the
    storage layer's job (distcp / object-store copy) — what the ENGINE
    owns is the integrity protocol: the manifest is computed FROM THE
    COPY and then checked against the SOURCE fingerprint, so a torn or
    stale copy cannot yield a valid manifest. The manifest is written
    LAST — its presence marks a complete backup (the _SUCCESS
    discipline), so restore can refuse manifest-less trees."""
    import json
    import os
    import shutil

    data_dir = os.path.join(backup_root, "data")
    if os.path.exists(backup_root):
        shutil.rmtree(backup_root)
    shutil.copytree(store_path, data_dir)
    n_copy, h_copy = store_fingerprint(spark, data_dir)
    n_src, h_src = store_fingerprint(spark, store_path)
    if (n_copy, h_copy) != (n_src, h_src):
        raise RuntimeError(
            f"backup fingerprint mismatch: source=({n_src},{h_src}) "
            f"copy=({n_copy},{h_copy}) — torn copy, backup aborted"
        )
    census = {
        d: len([f for f in os.listdir(os.path.join(data_dir, d)) if not f.startswith(("_", "."))])
        for d in sorted(os.listdir(data_dir))
        if os.path.isdir(os.path.join(data_dir, d))
    }
    manifest = {
        "n_rows": n_copy,
        "content_hash": str(h_copy),
        "partitions": census,
    }
    with open(os.path.join(backup_root, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def restore_store(spark, backup_root: str, dest_path: str) -> dict:
    """Datomic `restore-db`: verify the backup tree against its manifest
    (row count + content fingerprint — guards bit-rot and partial
    uploads between backup time and now), then materialize the store at
    `dest_path`. Refuses a manifest-less or mismatching backup."""
    import json
    import os
    import shutil

    mf_path = os.path.join(backup_root, "MANIFEST.json")
    if not os.path.exists(mf_path):
        raise RuntimeError(f"no MANIFEST.json under {backup_root}: not a backup")
    with open(mf_path) as f:
        manifest = json.load(f)
    data_dir = os.path.join(backup_root, "data")
    n, h = store_fingerprint(spark, data_dir)
    if n != manifest["n_rows"] or str(h) != manifest["content_hash"]:
        raise RuntimeError(
            f"backup failed verification: manifest=({manifest['n_rows']},"
            f"{manifest['content_hash']}) actual=({n},{h})"
        )
    if os.path.exists(dest_path):
        shutil.rmtree(dest_path)
    shutil.copytree(data_dir, dest_path)
    return manifest
