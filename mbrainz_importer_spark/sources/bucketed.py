"""Bucketed entity-table storage — the 100 TB merge path (SURVEY.md §7.2 M6).

Every import pass merges on the same upsert key (gid). Hash-bucketing the
warehouse tables on that key makes each subsequent merge/join co-located:
Catalyst sees compatible output partitioning on both sides and plans a
SortMergeJoin with NO Exchange — the shuffle that would otherwise move the
entire big side on every pass simply disappears.

Bucketed tables require the session catalog (saveAsTable); paths alone
cannot carry bucket metadata. `assert_no_exchange` is the test hook that
proves the property from the physical plan.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from .. import budget
from . import local_path

# written LAST after a successful bucketed write, next to the data —
# the on-disk twin of the catalog's bucket spec. A crash mid-write
# leaves no spec, so a half-written layout is never adoptable (the
# same write-metadata-last posture as the IVF index's _centroids.json).
_SPEC_NAME = "_bucketspec.json"


def table_location(spark: SparkSession, table: str) -> str:
    """Filesystem location of a warehouse table (managed or adopted).

    Only unqualified default-database names are supported: a `db.tbl`
    name does NOT live at <warehouse>/<name>, so guessing would write
    or look up the bucket spec in the wrong directory (and adoption
    would silently fail — or adopt a stray directory). When the table
    is already in the catalog its REAL location is resolved from the
    catalog instead of assumed."""
    if "." in table:
        raise ValueError(
            f"table_location: qualified name {table!r} is not supported — "
            "bucketed stores live in the default database so the on-disk "
            "_bucketspec.json sits at <warehouse>/<table>"
        )
    try:
        if spark.catalog.tableExists(table):
            detail = {
                r["col_name"]: r["data_type"]
                for r in spark.sql(
                    f"DESCRIBE TABLE EXTENDED `{table}`"
                ).collect()
            }
            loc = local_path(detail.get("Location", ""))
            if loc:
                return loc
    except Exception:
        pass  # fall back to the warehouse convention
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return os.path.join(local_path(wh), table.lower())


def _schema_ddl(schema, partition_col: str | None) -> str:
    """Column DDL with the partition column LAST — the order saveAsTable
    stores a partitioned table's schema in, which insertInto (position-
    based) depends on."""
    fields = [f for f in schema.fields if f.name != partition_col]
    if partition_col is not None:
        fields.append(schema[partition_col])
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)


def write_bucket_spec(
    schema,
    location: str,
    bucket_key: str,
    n_buckets: int,
    sort_key: str | list[str] | None = None,
    partition_col: str | None = None,
) -> None:
    spec = {
        "schema_ddl": _schema_ddl(schema, partition_col),
        "bucket_key": bucket_key,
        "sort_key": sort_key or bucket_key,
        "n_buckets": n_buckets,
        "partition_col": partition_col,
    }
    with open(os.path.join(location, _SPEC_NAME), "w") as f:
        json.dump(spec, f)


def _spec_sort_cols(spec: dict) -> list[str]:
    """sort_key normalized to a column list (single-column specs store a
    bare string; multi-column sorted layouts — e.g. the window-topk
    twin's (group, order) sort — store a list)."""
    sk = spec["sort_key"]
    return [sk] if isinstance(sk, str) else list(sk)


def _validate_bucket_spec(spec: dict, spec_path: str) -> None:
    """Refuse to adopt a malformed or internally inconsistent spec. A
    stale / hand-edited `_bucketspec.json` would otherwise produce a
    catalog entry whose bucket metadata misdescribes the files — and
    with sort-trust ON a wrong n_buckets plans Exchange-free joins over
    wrongly-bucketed data (silent wrong results). Raising (rather than
    returning False into a rebuild) keeps the corruption loud."""
    missing = {"schema_ddl", "bucket_key", "sort_key", "n_buckets"} - set(spec)
    if missing:
        raise ValueError(
            f"corrupt bucket spec {spec_path}: missing keys {sorted(missing)}"
        )
    n = spec["n_buckets"]
    if not isinstance(n, int) or isinstance(n, bool) or n <= 0:
        raise ValueError(
            f"corrupt bucket spec {spec_path}: n_buckets={n!r} is not a "
            "positive int"
        )
    ddl_cols = {
        c.strip().split("`")[1]
        for c in spec["schema_ddl"].split(",")
        if "`" in c
    }
    sort_cols = spec["sort_key"]
    if isinstance(sort_cols, str):
        sort_cols = [sort_cols]
    if not sort_cols or not all(isinstance(c, str) for c in sort_cols):
        raise ValueError(
            f"corrupt bucket spec {spec_path}: sort_key={spec['sort_key']!r} "
            "must be a column name or non-empty list of column names"
        )
    for role, cols in (("bucket_key", [spec["bucket_key"]]),
                       ("sort_key", sort_cols)):
        for c in cols:
            if c not in ddl_cols:
                raise ValueError(
                    f"corrupt bucket spec {spec_path}: {role}={c!r} "
                    f"is not a column of the stored schema ({sorted(ddl_cols)})"
                )
    if spec.get("partition_col") and spec["partition_col"] not in ddl_cols:
        raise ValueError(
            f"corrupt bucket spec {spec_path}: partition_col="
            f"{spec['partition_col']!r} is not a column of the stored schema"
        )


def adopt_bucketed_table(spark: SparkSession, table: str) -> bool:
    """Re-attach catalog metadata for a bucketed layout a previous
    process left in the warehouse. Bucket metadata lives only in the
    session catalog, and this deployment's catalog is in-memory — so
    without adoption every new process REBUILDS a layout whose files
    are sitting on disk intact (measured: 380s for the sf100 fact
    layout, vs sub-second adoption). A real cluster keeps a persistent
    metastore; this is the single-node stand-in for it: CREATE TABLE
    over the existing LOCATION with the bucket spec replayed from the
    `_bucketspec.json` the write dropped beside the data, plus a
    partition-recovery pass for attribute-partitioned stores. Returns
    False when there is nothing adoptable (no spec — including a
    layout whose write crashed before completing)."""
    loc = table_location(spark, table)
    spec_path = os.path.join(loc, _SPEC_NAME)
    if not os.path.exists(spec_path):
        return False
    with open(spec_path) as f:
        spec = json.load(f)
    _validate_bucket_spec(spec, spec_path)
    part = (
        f"PARTITIONED BY (`{spec['partition_col']}`) "
        if spec["partition_col"]
        else ""
    )
    spark.sql(
        f"CREATE TABLE `{table}` ({spec['schema_ddl']}) USING parquet "
        + part
        + f"CLUSTERED BY (`{spec['bucket_key']}`) "
        f"SORTED BY ({', '.join(f'`{c}`' for c in _spec_sort_cols(spec))}) "
        f"INTO {spec['n_buckets']} BUCKETS "
        f"LOCATION '{os.path.abspath(loc)}'"
    )
    if spec["partition_col"]:
        spark.sql(f"MSCK REPAIR TABLE `{table}`")
    return True


def ensure_bucketed_table(spark: SparkSession, table: str) -> bool:
    """True when the table is usable: already in the catalog, or
    adopted from an intact on-disk layout. False means build it."""
    return spark.catalog.tableExists(table) or adopt_bucketed_table(spark, table)


def writer_partitions(spark: SparkSession, n_buckets: int) -> int:
    """Explicit shuffle-partition count for every bucketed writer: an
    expression-only repartition is AQE-ADJUSTABLE (initialPartitionNum /
    coalescing re-size it at runtime), and a runtime re-size changes how
    many bucket sorts each writer task holds — the sf100 merge's staged
    write heap-OOM'd live when the r12 initialPartitionNum default
    landed (pinned by an init=32 A/B). max(static, n_buckets) keeps the
    fan-out deterministic and, at large layouts, at most ~one bucket's
    sort per task."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")), n_buckets
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed+sorted managed table keyed for co-located
    merges. The write pre-shuffles on the bucket id (the same Murmur3
    pmod Spark's bucketing uses) so each bucket is ONE sorted file —
    Spark only trusts sortBy metadata for single-file buckets, so this
    is what actually lets downstream SMJs skip their Sort (a
    multi-task write fans out files per (task x bucket) and silently
    re-inserts the Sort). `sort_cols` widens the in-bucket sort beyond
    the bucket key (it must LEAD with the bucket key for merge
    consumers); a (group, order...) sort lets a WindowExec over the
    bucket key consume the scan with neither Exchange nor Sort."""
    from pyspark.sql import functions as F

    from ..plans.eav import _drop_stale_table

    sort_cols = sort_cols or [bucket_key]
    _drop_stale_table(df.sparkSession, table)
    (
        df.repartition(
            writer_partitions(df.sparkSession, n_buckets),
            F.pmod(F.hash(bucket_key), F.lit(n_buckets)),
        )
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_key)
        .sortBy(sort_cols)
        .format("parquet")
        .saveAsTable(table)
    )
    write_bucket_spec(
        df.schema, table_location(df.sparkSession, table), bucket_key,
        n_buckets, sort_key=sort_cols if sort_cols != [bucket_key] else None,
    )


def read_bucket_spec(spark: SparkSession, table: str) -> dict:
    """The table's validated on-disk bucket spec (`_bucketspec.json`,
    written by every bucketed writer here). Raises on a missing or
    corrupt spec — the corruption stays loud, as in adoption."""
    loc = table_location(spark, table)
    p = os.path.join(loc, _SPEC_NAME)
    with open(p) as f:
        spec = json.load(f)
    _validate_bucket_spec(spec, p)
    return spec


def _reject_partitioned(spec: dict, table: str, op: str) -> None:
    """The flat-layout maintenance ops refuse a PARTITIONED bucketed
    table loudly: `compact_bucketed`'s rebuild through `write_bucketed`
    would silently DROP the partitioning (content preserved, layout and
    spec wrong — every later merge breaks), and the appends would
    bypass partition registration and the per-(partition, bucket)
    file invariant. The partitioned datom store has its own maintenance
    path (plans/eav.py: merge_datoms_increment_bucketed /
    compact_store)."""
    if spec.get("partition_col"):
        raise ValueError(
            f"{op}: {table!r} is partitioned by "
            f"{spec['partition_col']!r} — use the datom-store "
            "maintenance path (plans/eav.py compact_store / "
            "merge_datoms_increment_bucketed), not the flat-layout "
            f"{op}"
        )


def append_bucketed(df: DataFrame, table: str) -> None:
    """Fold an increment into an existing bucketed table — the
    O(increment) arrival path the layout needs at 100 TB (a build-once
    layout that can only full-rebuild on new data is a snapshot, not a
    layout). The write pre-shuffles on the table's own bucket spec, so
    each bucket gains at most ONE file per append, and insertInto
    writes bucket-id file names: bucket CO-LOCATION survives every
    append — joins on the bucket key stay Exchange-free
    (plan-asserted in test_bucketed).

    What an append deliberately spends is the single-file-per-bucket
    SORT trust: Spark only trusts sortBy metadata for single-file
    buckets, so downstream SMJs re-insert their per-bucket Sort until
    `compact_bucketed` collapses the accumulation — the LSM cadence
    (appends O(increment), compaction periodic), policed by
    `bucketed_compaction_due` exactly like the datom store's census.

    NOT idempotent — it is an append; a redelivered increment
    duplicates rows. Redelivery discipline belongs to the ingest path
    in front of it (the anti-join transactional sink,
    operators/idempotency.py), same as any log-structured store."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    spec = read_bucket_spec(spark, table)
    _reject_partitioned(spec, table, "append_bucketed")
    key, nb = spec["bucket_key"], spec["n_buckets"]
    cols = spark.table(table).columns
    (
        df.repartition(
            writer_partitions(df.sparkSession, nb),
            F.pmod(F.hash(key), F.lit(nb)),
        )
        .select(*cols)
        .write.insertInto(table, overwrite=False)
    )
    spark.catalog.refreshTable(table)


_LEDGER_NAME = "_append_ledger.json"


def _read_append_ledger(loc: str) -> list[str]:
    p = os.path.join(loc, _LEDGER_NAME)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _record_append(loc: str, batch_id: str) -> None:
    ledger = _read_append_ledger(loc)
    if batch_id not in ledger:
        ledger.append(batch_id)
    p = os.path.join(loc, _LEDGER_NAME)
    with open(p + ".tmp", "w") as f:
        json.dump(ledger, f)
    os.rename(p + ".tmp", p)


def append_bucketed_once(df: DataFrame, table: str, batch_id: str) -> bool:
    """`append_bucketed` with an exactly-once commit — the sink the
    STREAMING layout ingest needs, since a plain append duplicates rows
    on redelivery. The batch stages as a bucketed table (files carry
    bucket-id names and the spec's sort), a manifest records
    (batch_id, files), the files MOVE into the layout one rename at a
    time (absence-from-staging is the done marker, as in the store
    merge swap), and the batch id lands in the layout's ledger
    (`_append_ledger.json`, atomic rename). Every crash window heals:
    mid-stage replay restages from scratch; mid-move or pre-ledger
    replay completes the recorded moves and records; a replay of a
    ledgered batch is a no-op. Appends are assumed SERIAL per table
    (Structured Streaming's foreachBatch contract — one epoch at a
    time). Returns whether the batch was applied (False = replay of a
    committed batch)."""
    from ..plans.eav import _drop_stale_table

    spark = df.sparkSession
    spec = read_bucket_spec(spark, table)
    _reject_partitioned(spec, table, "append_bucketed_once")
    resume_compact_swap(spark, table)  # heal a crashed in-sink compaction
    loc = table_location(spark, table)
    stage_table = table + "__appendstage"
    # The heal path MUST be where saveAsTable will actually stage — which
    # is the warehouse location (or the catalog's real location if the
    # stage table survived in-session), NOT a sibling of the target
    # table's directory. For an adopted/external table whose location is
    # not under the current warehouse dir, the old dirname convention
    # never found a crashed append's manifest, _drop_stale_table then
    # rmtree'd the stage INCLUDING the manifest, and the batch restaged
    # in full after some files had already moved in — duplicate rows,
    # exactly-once broken. table_location resolves both cases to the
    # same answer the writer uses.
    stage_loc = table_location(spark, stage_table)
    manifest_p = os.path.join(stage_loc, "_APPEND_MANIFEST.json")

    def complete(manifest: dict) -> None:
        for name in manifest["files"]:
            src = os.path.join(stage_loc, name)
            if os.path.exists(src):
                os.rename(src, os.path.join(loc, name))
        _record_append(loc, manifest["batch_id"])
        spark.catalog.refreshTable(table)

    # heal a predecessor that died between its moves and its cleanup
    # (possibly a DIFFERENT batch whose ledger record never landed)
    if os.path.exists(manifest_p):
        with open(manifest_p) as f:
            prev = json.load(f)
        # was prev already ledgered BEFORE this heal? Then its previous
        # attempt fully committed (only the stage cleanup crashed) and a
        # replay of it must report False per the documented contract —
        # the heal below is pure cleanup, not an application.
        prev_committed = prev["batch_id"] in _read_append_ledger(loc)
        complete(prev)
        _drop_stale_table(spark, stage_table)
        if prev["batch_id"] == batch_id:
            return not prev_committed
    if batch_id in _read_append_ledger(loc):
        return False
    _drop_stale_table(spark, stage_table)
    from pyspark.sql import functions as F

    key, nb = spec["bucket_key"], spec["n_buckets"]
    cols = spark.table(table).columns
    (
        df.repartition(
            writer_partitions(df.sparkSession, nb),
            F.pmod(F.hash(key), F.lit(nb)),
        )
        .select(*cols)
        .write.bucketBy(nb, key)
        .sortBy(spec["sort_key"])
        .format("parquet")
        .saveAsTable(stage_table)
    )
    written_loc = table_location(spark, stage_table)
    if os.path.abspath(written_loc) != os.path.abspath(stage_loc):
        # the ledger/manifest discipline is only sound when the crash-
        # detection path and the writer's path agree; diverging here
        # means a future replay would miss this manifest — refuse to
        # proceed rather than silently break exactly-once
        raise RuntimeError(
            f"append_bucketed_once: staging table {stage_table!r} "
            f"materialized at {written_loc!r} but crash detection "
            f"probed {stage_loc!r}"
        )
    manifest_p = os.path.join(stage_loc, "_APPEND_MANIFEST.json")
    files = [
        n
        for n in os.listdir(stage_loc)
        if not n.startswith(("_", ".")) and not n.endswith(".crc")
    ]
    manifest = {"batch_id": batch_id, "files": files}
    with open(manifest_p + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.rename(manifest_p + ".tmp", manifest_p)
    complete(manifest)
    _drop_stale_table(spark, stage_table)
    return True


def bucket_file_counts(spark: SparkSession, table: str) -> dict[int, int]:
    """Data files per bucket id, from the bucket-id suffix insertInto /
    saveAsTable encode in every bucketed file name (`..._00007.c000...`).
    Metadata-only (a directory listing, the same price the planner
    pays to enumerate splits)."""
    import re

    loc = table_location(spark, table)
    counts: dict[int, int] = {}
    for name in os.listdir(loc):
        if name.startswith(("_", ".")) or name.endswith(".crc"):
            continue
        m = re.search(r"_(\d{5})(?:\.|$)", name)
        if m:
            b = int(m.group(1))
            counts[b] = counts.get(b, 0) + 1
    return counts


def bucketed_compaction_due(
    spark: SparkSession, table: str, max_files_per_bucket: int = 1
) -> bool:
    """The census policy for the flat bucketed layout: due when any
    bucket holds more than `max_files_per_bucket` files (every file
    past the first costs the downstream SMJ its Sort-free plan and
    adds a merge stream). The default 1 restores the write-discipline
    invariant on the first compaction after any append."""
    counts = bucket_file_counts(spark, table)
    return bool(counts) and max(counts.values()) > max_files_per_bucket


def _bucket_of(name: str) -> int | None:
    import re

    m = re.search(r"_(\d{5})(?:\.|$)", name)
    return int(m.group(1)) if m else None


def resume_compact_swap(spark: SparkSession, table: str) -> bool:
    """Complete a per-bucket compaction swap a crash left half-done.
    The manifest (written before the first move, in the compaction
    staging table's location) records each dirty bucket's old and new
    file names; completion is idempotent from any interruption point —
    a bucket whose new files are no longer in staging is DONE (its old
    files are already gone; nothing is ever deleted without the staged
    replacement at hand or already moved in). Returns whether a
    manifest was found and completed. `compact_bucketed` and
    `append_bucketed_once` run this on entry."""
    loc = table_location(spark, table)
    # same path discipline as append_bucketed_once: the manifest lives
    # where saveAsTable staged the compaction table (warehouse / real
    # catalog location), which for an adopted/external target is NOT a
    # sibling of the target's directory
    stage_loc = table_location(spark, table + "__compactstage")
    manifest_p = os.path.join(stage_loc, "_COMPACT_MANIFEST.json")
    if not os.path.exists(manifest_p):
        return False
    with open(manifest_p) as f:
        manifest = json.load(f)
    for entry in manifest["buckets"]:
        staged_present = [
            n for n in entry["new"]
            if os.path.exists(os.path.join(stage_loc, n))
        ]
        moved_present = [
            n for n in entry["new"]
            if os.path.exists(os.path.join(loc, n))
        ]
        if entry["new"] and not staged_present and not moved_present:
            continue  # impossible under the protocol; nothing safe to do
        # new == [] (a dirty bucket whose staged rewrite produced no
        # files) reaches here too: the manifest is only written after
        # staging completed, so its old files are safe to delete —
        # skipping them would leave the pre-compaction duplicates alive
        for old in entry["old"]:
            p = os.path.join(loc, old)
            if os.path.exists(p):
                os.remove(p)
        for n in staged_present:
            os.rename(os.path.join(stage_loc, n), os.path.join(loc, n))
    import shutil

    shutil.rmtree(stage_loc, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS `{table}__compactstage`")
    spark.catalog.refreshTable(table)
    return True


def compact_bucketed(
    spark: SparkSession, table: str, max_files_per_bucket: int = 1
) -> None:
    """Collapse each DIRTY bucket (more files than
    `max_files_per_bucket`) back to one sorted file — O(dirty buckets),
    not O(table): only the dirty buckets' files are read, rewritten
    through a staging table with the identical bucket/sort spec
    (bucket ids are a function of the key, so rows land back in their
    own buckets), and swapped in file-by-file under a manifest. Clean
    buckets' files are never touched (file-identity pinned in
    test_layout_ingest), the catalog entry survives (no drop/rebuild),
    and the append ledger is simply never at risk. Crash contract as
    the store merge swap: mid-stage leaves the table untouched,
    mid-swap is healed by `resume_compact_swap` on the next
    compaction's or streaming append's entry (until then the dirty
    buckets' rows may be partially absent — the same window the
    partition swap has, bounded to the dirty buckets)."""
    import shutil

    from pyspark.sql import functions as F

    from ..plans.eav import _drop_stale_table

    spec = read_bucket_spec(spark, table)
    _reject_partitioned(spec, table, "compact_bucketed")
    resume_compact_swap(spark, table)
    loc = table_location(spark, table)
    by_bucket: dict[int, list[str]] = {}
    for name in os.listdir(loc):
        if name.startswith(("_", ".")) or name.endswith(".crc"):
            continue
        b = _bucket_of(name)
        if b is not None:
            by_bucket.setdefault(b, []).append(name)
    dirty = {
        b: sorted(files)
        for b, files in by_bucket.items()
        if len(files) > max_files_per_bucket
    }
    if not dirty:
        return
    stage_table = table + "__compactstage"
    _drop_stale_table(spark, stage_table)
    key, nb = spec["bucket_key"], spec["n_buckets"]
    cols = spark.table(table).columns
    paths = [
        os.path.join(loc, n) for files in dirty.values() for n in files
    ]
    (
        spark.read.schema(spark.table(table).schema)
        .parquet(*paths)
        .repartition(
            writer_partitions(spark, nb),
            F.pmod(F.hash(key), F.lit(nb)),
        )
        .select(*cols)
        .write.bucketBy(nb, key)
        .sortBy(spec["sort_key"])
        .format("parquet")
        .saveAsTable(stage_table)
    )
    stage_loc = table_location(spark, stage_table)
    staged_by_bucket: dict[int, list[str]] = {}
    for name in os.listdir(stage_loc):
        if name.startswith(("_", ".")) or name.endswith(".crc"):
            continue
        b = _bucket_of(name)
        if b is not None:
            staged_by_bucket.setdefault(b, []).append(name)
    manifest = {
        "buckets": [
            {"bucket": b, "old": files, "new": sorted(staged_by_bucket.get(b, []))}
            for b, files in sorted(dirty.items())
        ]
    }
    manifest_p = os.path.join(stage_loc, "_COMPACT_MANIFEST.json")
    with open(manifest_p + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.rename(manifest_p + ".tmp", manifest_p)
    for entry in manifest["buckets"]:
        for old in entry["old"]:
            p = os.path.join(loc, old)
            if os.path.exists(p):
                os.remove(p)
        for n in entry["new"]:
            os.rename(os.path.join(stage_loc, n), os.path.join(loc, n))
    shutil.rmtree(stage_loc, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS `{stage_table}`")
    spark.catalog.refreshTable(table)


def adaptive_buckets(
    *paths: str,
    target_mb: int = 128,
    floor: int = 32,
    expand: float = 1.0,
) -> int:
    """Bucket count sized to the DATA, the way production lays out
    bucketed tables: one bucket ~ one `target_mb` parquet file. With
    single-file-per-bucket writes (write_bucketed's invariant) the
    per-task sort/write memory is bounded by the bucket size, so an
    undersized bucket count doesn't just make big files — it OOMs the
    writer (measured at the sf100 tier: 10 GB of lineitem into 32
    buckets = 318 MB files, 32 concurrent sorting writers, 8g heap
    gone). Power-of-two counts keep co-location stable as data grows
    (Spark joins bucketed tables whose counts divide each other
    one-sided). `expand` scales the source-bytes estimate when the
    written projection is wider than the source (e.g. an unpivot)."""
    import math
    import os

    total = 0
    for p in paths:
        if os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    need = int(total * expand) // (target_mb * 1024 * 1024)
    if need <= floor:
        return floor
    return 2 ** math.ceil(math.log2(need))


# ---------------------------------------------------------------------------
# Memory-bounded co-located ShuffledHashJoin (PLAN_NOTES_r10.md §18's
# recorded revisit condition, implemented):
#
# The r10 probe measured the trade directly: a co-located SHJ over the
# bucketed fact layout removes BOTH explicit Sorts from the q5 merge
# (~20% at sf10/8g), but its build side does not spill — at sf100 with
# 150M orders rows split 128 ways, 32 concurrent builders put ~6.7 GB
# of unspillable hash relation on an 8g heap and died in
# cannotAcquireMemoryToBuildLongHashedRelation. A plan that wins one
# decade and OOMs the next is not a plan; the missing piece was a
# PROVABLE build-side bound. These helpers provide it from parquet
# FOOTER metadata only (no data read):
#
#   per-task build bytes = rows_per_bucket * per_row_cost
#   concurrent build bytes = per-task * min(n_buckets, cores)
#   fits  <=>  concurrent build bytes <= budget.shj_budget(heap)
#
# per_row_cost models Spark's LongToUnsafeRowMap: an UnsafeRow
# (8B null bitset + 8B per fixed-width field + 8-byte-aligned var-len
# payload, estimated from the footer's uncompressed column sizes) plus
# ~32B of map/meta overhead per key, with a 1.5x safety factor. The
# model is CALIBRATED against both recorded datapoints: it says 6.7 GB
# (> the 2 GB budget) for the sf100/128-bucket shape that OOM'd, and
# 1.3 GB (fits) for the sf10 shape that ran and won 20%.
# ---------------------------------------------------------------------------

_SHJ_ROW_OVERHEAD = 32     # LongToUnsafeRowMap meta per key
_SHJ_SAFETY = 1.5          # model-to-JVM slack


def _parquet_row_stats(paths: list[str], columns: tuple | None) -> tuple[int, float]:
    """(total rows, estimated UnsafeRow bytes/row for `columns`) from
    parquet footers only. Fixed-width fields cost 8B each in an
    UnsafeRow; var-len (BYTE_ARRAY) fields cost their uncompressed
    payload per row rounded up to 8B alignment."""
    import pyarrow.parquet as pq

    rows = 0
    fixed = var_bytes = 0.0
    n_cols = 0
    first = True
    for p in paths:
        md = pq.ParquetFile(p).metadata
        rows += md.num_rows
        if first and md.num_row_groups > 0:
            rg = md.row_group(0)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                name = col.path_in_schema
                if columns is not None and name not in columns:
                    continue
                n_cols += 1
                if col.physical_type == "BYTE_ARRAY":
                    per_row = col.total_uncompressed_size / max(rg.num_rows, 1)
                    var_bytes += 8 * max(1, -(-per_row // 8))  # ceil to 8
                else:
                    fixed += 8
            first = False
    width = 8 + fixed + var_bytes  # 8B null bitset + fields
    return rows, (width + _SHJ_ROW_OVERHEAD) * _SHJ_SAFETY


def _data_files(loc: str) -> list[str]:
    return [
        os.path.join(loc, n)
        for n in sorted(os.listdir(loc))
        if not n.startswith(("_", ".")) and not n.endswith(".crc")
    ]


def shj_build_plan(
    spark: SparkSession,
    table: str,
    heap_bytes: int | None = None,
    cores: int | None = None,
) -> dict:
    """Provable-fit verdict for building a co-located SHJ hash relation
    from bucketed `table` (the build side), from footer metadata only:
    {fits, rows, n_buckets, per_bucket_rows, per_row_cost,
    concurrent_bytes, budget_bytes}. Callers gate the shuffle_hash hint
    on `fits` — an adopted layout built at a coarser bucket count by an
    older process correctly fails the bound and falls back to SMJ, the
    strategy that spills."""
    heap = heap_bytes if heap_bytes is not None else budget.heap_bytes(spark)
    ncores = cores if cores is not None else budget.cores(spark)
    spec = read_bucket_spec(spark, table)
    nb = spec["n_buckets"]
    files = _data_files(table_location(spark, table))
    rows, per_row = _parquet_row_stats(files, None)
    per_bucket = rows / max(nb, 1)
    concurrent = per_bucket * per_row * min(nb, ncores)
    limit = budget.shj_budget(heap)
    return {
        "fits": concurrent <= limit,
        "rows": rows,
        "n_buckets": nb,
        "per_bucket_rows": int(per_bucket),
        "per_row_cost": round(per_row, 1),
        "concurrent_bytes": int(concurrent),
        "budget_bytes": int(limit),
    }


def shj_min_buckets(
    spark: SparkSession,
    path: str,
    columns: tuple | None = None,
) -> int:
    """Smallest power-of-two bucket count at which a co-located SHJ
    build of the `columns` projection of the parquet data at `path`
    provably fits the heap budget. Used by the workload layout sizing:
    nb = max(size-adaptive count, SHJ-fitting count) makes the layout
    serve BOTH join strategies — the Sort-free SHJ becomes available
    exactly when its memory bound is real, not hoped."""
    import math

    files = _data_files(path) if os.path.isdir(path) else [path]
    rows, per_row = _parquet_row_stats(files, columns)
    max_rows_per_bucket = budget.shj_budget(budget.heap_bytes(spark)) / (
        per_row * budget.cores(spark)
    )
    if max_rows_per_bucket <= 0:
        return 1
    need = rows / max_rows_per_bucket
    if need <= 1:
        return 1
    return 2 ** math.ceil(math.log2(need))


def joined_bucketed(spark: SparkSession, left: str, right: str, key: str) -> DataFrame:
    """Join two tables bucketed on `key`: the merge hint pins the
    Exchange-free SortMergeJoin the layout pays for — without it a
    column-pruned side under autoBroadcastJoinThreshold gets broadcast,
    rebuilding a fact-scale hash relation on the driver (measured 9x
    slower on the sf10 datom store; plans/eav.py:read_datoms_bucketed)."""
    return spark.table(left).hint("merge").join(spark.table(right), key)


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def sort_trust(spark: SparkSession, enabled: bool):
    """Per-query override of the bucket-sort trust flag
    (`spark.sql.legacy.bucketedTableScan.outputOrdering`, session
    default ON in session.py). The sf100 A/B (PLAN_NOTES_r09.md §14)
    showed the trade is SHAPE-dependent: trusting the on-disk sort wins
    where filters thin the merge inputs (q3's selective dates 16s vs
    59s; the pruned-partition e-join), while a near-full-corpus merge
    (q5) runs ~20% faster with the explicit Sort — its bulk vectorized
    read + tight in-memory merge of sorted runs beats row-at-a-time
    interleaved pulls. The flag is consulted at PLANNING time (the
    action), not at DataFrame construction — verified: a frame built
    inside the manager but planned outside gets the restored value —
    so the ACTION must run inside the block:

        with sort_trust(spark, False):
            joined_bucketed(spark, "a", "b", "k").collect()
    """
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    # Spark's built-in default is false; a session not built by
    # session.py:get_spark may never have set the key, and a
    # no-default conf.get raises before the body runs.
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true" if enabled else "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------------------------------------
# Shape-based plan selection: pick the sort-trust setting the measured
# A/Bs showed to be best for THIS query's merge shape, automatically.
#
# The sf100 A/B (PLAN_NOTES_r09.md §14/§25) split the bucketed-merge
# world in two: filtered merges (q3's selective dates, the partition-
# pruned e-join) run up to 3.7x faster TRUSTING the on-disk bucket sort
# (the Sort's full materialization dominates), while a NEAR-FULL-CORPUS
# merge (q5's unfiltered fact-fact join) runs ~20% faster with the
# explicit Sort — bulk vectorized read + tight in-memory merge of
# sorted runs beats the sort-free SMJ's row-at-a-time interleaved
# pulls once the merge inputs dwarf memory. The reference hand-plans
# this per pipeline (importer.clj:286-289); here the engine inspects
# the physical plan and picks, with no per-query human input:
#
#   1. find every SortMergeJoin whose BOTH inputs are clean
#      scan -> Filter/Project chains over bucketed file scans (an
#      aggregate or join in between means the scan's size is not the
#      merge input's size — excluded);
#   2. estimate each scan's post-filter row fraction by counting ONE
#      bucket file (buckets are hash-random on the key, so any single
#      bucket is an unbiased sample; partition-pruned scans are
#      thinned by construction);
#   3. trust OFF only when every certifiable merge is near-full-corpus
#      (all input fractions >= threshold) — q5's shape; anything
#      thinned keeps the measured-default trust ON.
# ---------------------------------------------------------------------------

_CHAIN_OK = {"ProjectExec", "FilterExec", "SortExec"}


def _iter_plan(node):
    yield node
    for i in range(node.children().size()):
        yield from _iter_plan(node.children().apply(i))


def _chain_scan(node):
    """Descend through Project/Filter/Sort to a single file scan; None
    when anything else (aggregate, join, exchange...) intervenes — then
    the scan's row count is not the merge input's row count."""
    cls = node.getClass().getSimpleName()
    if cls == "FileSourceScanExec":
        return node
    if cls in _CHAIN_OK and node.children().size() == 1:
        return _chain_scan(node.children().apply(0))
    return None


# sampled-fraction memo: the same (file, condition) re-estimates on
# every run of a repeated query; the layout is immutable between
# writes (a rewrite changes the file NAME — part-...-<uuid>), so the
# key is stable exactly as long as the estimate is
_FRACTION_CACHE: dict[tuple[str, str], float] = {}


def _scan_merge_fraction(spark: SparkSession, scan) -> float | None:
    """Estimated post-filter row fraction of a bucketed scan, from ONE
    bucket file. None = not a bucketed scan (shape not certifiable)."""
    import re

    md = scan.metadata()
    if not (md.contains("Bucketed") and md.apply("Bucketed") == "true"):
        return None
    if scan.partitionFilters().size() > 0:
        return 0.0  # partition-pruned: thinned by construction
    flt = scan.dataFilters()
    sqls = [flt.apply(i).sql() for i in range(flt.size())]
    # join-key IS NOT NULL guards don't thin a merge input — skip the
    # sample (this is q5's whole filter set; the sample would read a
    # bucket file per run for a known answer)
    sqls = [s for s in sqls if not re.fullmatch(r"\(.+ IS NOT NULL\)", s)]
    if not sqls:
        return 1.0
    files = scan.relation().location().inputFiles()
    if len(files) == 0:
        return 1.0
    one = files[0]
    cond = " AND ".join(sqls)
    # Expression.sql() qualifies columns as spark_catalog.<db>.<tbl>.<col>;
    # the single-file read has bare names
    cond = re.sub(r"\b\w+\.\w+\.\w+\.(\w+)", r"\1", cond)
    if (one, cond) in _FRACTION_CACHE:
        return _FRACTION_CACHE[(one, cond)]
    import pyarrow.parquet as pq

    path = re.sub(r"^file:(//)?", "", one)
    total = pq.ParquetFile(path).metadata.num_rows
    frac = 1.0 if total == 0 else (
        spark.read.parquet(one).where(cond).count() / total
    )
    _FRACTION_CACHE[(one, cond)] = frac
    return frac


def shape_selected_trust(df: DataFrame, full_threshold: float = 0.9) -> bool | None:
    """The sort-trust setting the measured shape rule picks for this
    plan: False (explicit Sort) when every certifiable bucketed merge is
    near-full-corpus, True when any is thinned, None when the plan has
    no certifiable bucketed fact-fact merge (leave the session default
    alone). Results are flag-invariant either way — this is a physical
    choice only (pinned in test_sort_trust_toggle_is_per_query)."""
    spark = df.sparkSession
    plan = df._jdf.queryExecution().sparkPlan()
    full = thinned = 0
    for node in _iter_plan(plan):
        if node.getClass().getSimpleName() != "SortMergeJoinExec":
            continue
        sides = [_chain_scan(node.children().apply(i)) for i in (0, 1)]
        if any(s is None for s in sides):
            continue
        try:
            fracs = [_scan_merge_fraction(spark, s) for s in sides]
        except Exception:
            # the estimator re-parses Expression.sql() output against a
            # single-file read; a filter whose SQL doesn't round-trip
            # (exotic literal quoting, nested-field paths) must degrade
            # to "shape not certifiable", never crash the query runner
            continue
        if any(fr is None for fr in fracs):
            continue
        if all(fr >= full_threshold for fr in fracs):
            full += 1
        else:
            thinned += 1
    if thinned:
        return True
    if full:
        return False
    return None


@contextmanager
def shape_trust(df: DataFrame, full_threshold: float = 0.9):
    """Run an action under the shape-selected sort-trust setting:

        df = q5_region_revenue_bucketed(spark, sf_dir)
        with shape_trust(df):
            df.count()

    Yields the picked setting (None = no certifiable merge, session
    default untouched). Same plan-time caveat as sort_trust: the ACTION
    must run inside the block."""
    pick = shape_selected_trust(df, full_threshold)
    if pick is None:
        yield None
        return
    with sort_trust(df.sparkSession, pick):
        yield pick


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan."""
    plan = physical_plan(df)
    return sum(1 for line in plan.splitlines() if "Exchange hashpartitioning" in line)
