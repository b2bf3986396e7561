"""The incremental store-indexing job (plans/eav.py:current_datoms /
merge_datoms_increment) — Datomic's background index merge: fold a
tx-log increment into the attribute-partitioned store, rewriting only
the touched attribute partitions. Reference semantics: the database is
a replayed log (SURVEY.md §1.1a); indexing folds the log into sorted
segments without rewriting the world."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mbrainz_importer_spark.plans.eav import (
    current_datoms,
    materialize_datoms,
    merge_datoms_increment,
    read_datoms,
)

OPS_SCHEMA = "e string, a string, v string, v_num double, tx long, added boolean"
STORE_SCHEMA = "e string, a string, v string, v_num double"


def _store(spark, rows):
    return spark.createDataFrame(rows, STORE_SCHEMA)


def _ops(spark, rows):
    return spark.createDataFrame(rows, OPS_SCHEMA)


def _sorted(df):
    return sorted(tuple(r) for r in df.select("e", "a", "v", "v_num").collect())


BASE = [
    ("t:1", ":t/x", "1", 1.0),      # card-one, will be displaced
    ("t:1", ":t/tag", "red", None),  # card-many, accumulates
    ("t:2", ":t/x", "5", 5.0),      # untouched entity
    ("t:2", ":t/keep", "k", None),   # untouched attribute
]

INCREMENT = [
    # card-one displacement: bare assert of a new value
    ("t:1", ":t/x", "2", 2.0, 10, True),
    # card-many: one more tag + retract an existing one
    ("t:1", ":t/tag", "blue", None, 10, True),
    ("t:1", ":t/tag", "red", None, 11, False),
    # assert a present datom: no-op (set semantics)
    ("t:2", ":t/x", "5", 5.0, 10, True),
    # retract an absent datom: no-op
    ("t:9", ":t/x", "9", 9.0, 10, False),
    # assert then retract within the increment: never surfaces
    ("t:3", ":t/x", "3", 3.0, 10, True),
    ("t:3", ":t/x", "3", 3.0, 12, False),
]

EXPECTED = [
    ("t:1", ":t/tag", "blue", None),
    ("t:1", ":t/x", "2", 2.0),
    ("t:2", ":t/keep", "k", None),
    ("t:2", ":t/x", "5", 5.0),
]


def test_replay_semantics(spark):
    out = current_datoms(
        _store(spark, BASE), _ops(spark, INCREMENT), card_many={":t/tag"}
    )
    assert _sorted(out) == EXPECTED


def test_explicit_displacement_retraction_matches_datomic_log(spark):
    """A real Datomic log reifies card-one displacement as an explicit
    retract op; replaying such a log gives the same answer as the bare
    assert — and retracting the CURRENT value without re-asserting
    leaves the attribute absent (not resurrected)."""
    base = _store(spark, [("t:1", ":t/x", "1", 1.0)])
    reified = _ops(spark, [
        ("t:1", ":t/x", "1", 1.0, 10, False),
        ("t:1", ":t/x", "2", 2.0, 10, True),
        ("t:1", ":t/x", "2", 2.0, 20, False),  # retract current, no new assert
    ])
    assert _sorted(current_datoms(base, reified)) == []


def test_same_tx_retract_assert_resolves_assert_wins(spark):
    base = _store(spark, [("t:1", ":t/x", "1", 1.0)])
    ops = _ops(spark, [
        ("t:1", ":t/x", "1", 1.0, 10, False),
        ("t:1", ":t/x", "1", 1.0, 10, True),
    ])
    assert _sorted(current_datoms(base, ops)) == [("t:1", ":t/x", "1", 1.0)]


def _file_state(path, attr_dir):
    d = os.path.join(path, attr_dir)
    return sorted(
        (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    keep_dir = next(
        n for n in os.listdir(path) if n.startswith("a=") and "keep" in n
    )
    before = _file_state(path, keep_dir)
    merge_datoms_increment(
        spark, path, _ops(spark, INCREMENT), card_many={":t/tag"}
    )
    assert _file_state(path, keep_dir) == before, "untouched partition rewritten"
    assert _sorted(read_datoms(spark, path)) == EXPECTED
    # idempotent redelivery: same increment again, same content
    merge_datoms_increment(
        spark, path, _ops(spark, INCREMENT), card_many={":t/tag"}
    )
    assert _sorted(read_datoms(spark, path)) == EXPECTED


def test_merge_removes_emptied_partition(spark, tmp_path):
    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    ops = _ops(spark, [
        ("t:2", ":t/keep", "k", None, 10, False),
    ])
    merge_datoms_increment(spark, path, ops)
    assert not any("keep" in n for n in os.listdir(path) if n.startswith("a="))
    got = _sorted(read_datoms(spark, path))
    assert ("t:2", ":t/keep", "k", None) not in got
    assert len(got) == len(BASE) - 1


def test_bucketed_merge_keeps_colocation_and_content(spark):
    """merge_datoms_increment_bucketed: same replay over the
    entity-bucketed catalog table — content matches the plain merge,
    the untouched partition's files survive byte-identical, and the
    post-merge entity self-join between attribute partitions is STILL
    Exchange-free (the staged bucketed write carries the table's bucket
    spec)."""
    import shutil

    from mbrainz_importer_spark.plans.eav import (
        materialize_datoms_bucketed,
        merge_datoms_increment_bucketed,
    )
    from mbrainz_importer_spark.sources.bucketed import count_exchanges

    table = "merge_bucketed_test"
    materialize_datoms_bucketed(_store(spark, BASE), table, n_buckets=4)
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        table,
    )
    keep_dir = next(n for n in os.listdir(loc) if n.startswith("a=") and "keep" in n)
    before = _file_state(loc, keep_dir)
    merge_datoms_increment_bucketed(
        spark, table, _ops(spark, INCREMENT), card_many={":t/tag"}
    )
    got = spark.table(table).select("e", "a", "v", "v_num")
    assert sorted(tuple(r) for r in got.collect()) == EXPECTED
    assert _file_state(loc, keep_dir) == before, "untouched partition rewritten"

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table(table)
        x = t.where("a = ':t/x'").select("e", F.col("v").alias("x"))
        k = t.where("a = ':t/keep'").select("e", F.col("v").alias("k"))
        j = x.join(k, "e")
        j.collect()
        assert count_exchanges(j) == 0, "merge broke bucket co-location"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
    # emptied partition drops from the catalog table's file index too
    merge_datoms_increment_bucketed(
        spark, table, _ops(spark, [("t:2", ":t/keep", "k", None, 20, False)])
    )
    assert spark.table(table).where("a = ':t/keep'").count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(loc, ignore_errors=True)


def test_merge_read_side_is_partition_pruned(spark, tmp_path):
    """The merge's read of the existing store must scan ONLY the
    touched attribute partitions — the isin over the partition column
    shows up as PartitionFilters, never a full-store scan."""
    from mbrainz_importer_spark.sources.bucketed import physical_plan

    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    existing = read_datoms(spark, path).where(
        F.col("a").isin([":t/x", ":t/tag"])
    )
    plan = physical_plan(existing)
    assert "PartitionFilters" in plan
    assert "a#" in plan.split("PartitionFilters")[1].split("]")[0]


def test_compact_store_collapses_merge_files(spark):
    """compact_store rewrites the table so each (partition, bucket)
    holds at most one file, never more files than a merge left behind,
    preserving content exactly."""
    import glob
    import shutil

    from mbrainz_importer_spark.plans.eav import (
        compact_store,
        materialize_datoms_bucketed,
        merge_datoms_increment_bucketed,
    )

    table = "compact_store_test"
    big = [(f"t:{i}", ":t/x", str(i), float(i)) for i in range(200)]
    materialize_datoms_bucketed(_store(spark, big), table, n_buckets=4)
    merge_datoms_increment_bucketed(
        spark, table,
        _ops(spark, [(f"t:{i}", ":t/x", str(i + 1000), float(i + 1000), 10, True)
                     for i in range(200)]),
    )
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        table,
    )
    x_dir = next(n for n in os.listdir(loc) if n.startswith("a=") and "x" in n)
    before_files = len(glob.glob(os.path.join(loc, x_dir, "*.parquet")))
    want = sorted(tuple(r) for r in spark.table(table)
                  .select("e", "a", "v", "v_num").collect())
    assert ("t:1", ":t/x", "1001", 1001.0) in want and len(want) == 200
    compact_store(spark, table, n_buckets=4)
    after_files = len(glob.glob(os.path.join(loc, x_dir, "*.parquet")))
    # the contract: at most one file per bucket afterwards, never more
    # than the merge left behind
    assert after_files <= 4 and after_files <= before_files
    got = sorted(tuple(r) for r in spark.table(table)
                 .select("e", "a", "v", "v_num").collect())
    assert got == want
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(loc, ignore_errors=True)


def test_excise_store_erases_and_preserves_untouched_partitions(spark, tmp_path):
    """excise_store: every trace of the doomed entity vanishes; a
    partition that held none of its datoms keeps its files
    byte-identical; re-excision is a no-op (idempotent); `attrs`
    narrows the rewrite."""
    from mbrainz_importer_spark.plans.eav import excise_store

    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    keep_dir = next(
        n for n in os.listdir(path) if n.startswith("a=") and "keep" in n
    )
    before = _file_state(path, keep_dir)
    excise_store(spark, path, ["t:1"])
    got = _sorted(read_datoms(spark, path))
    assert got == [r for r in sorted(BASE) if r[0] != "t:1"]
    assert _file_state(path, keep_dir) == before, "untouched partition rewritten"
    excise_store(spark, path, ["t:1"])  # idempotent
    assert _sorted(read_datoms(spark, path)) == got
    # attr-scoped excision erases only the named attribute's datoms
    excise_store(spark, path, ["t:2"], attrs={":t/keep"})
    got = _sorted(read_datoms(spark, path))
    assert ("t:2", ":t/keep", "k", None) not in got
    assert ("t:2", ":t/x", "5", 5.0) in got


def test_excise_bucketed_store(spark):
    """Bucketed-table excision: traces gone, co-location preserved."""
    import shutil

    from mbrainz_importer_spark.plans.eav import (
        excise_store_bucketed,
        materialize_datoms_bucketed,
    )
    from mbrainz_importer_spark.sources.bucketed import count_exchanges

    table = "excise_bucketed_test"
    materialize_datoms_bucketed(_store(spark, BASE), table, n_buckets=4)
    excise_store_bucketed(spark, table, ["t:1"])
    got = sorted(
        tuple(r) for r in spark.table(table).select("e", "a", "v", "v_num").collect()
    )
    assert got == [r for r in sorted(BASE) if r[0] != "t:1"]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table(table)
        x = t.where("a = ':t/x'").select("e", F.col("v").alias("x"))
        k = t.where("a = ':t/keep'").select("e", F.col("v").alias("k"))
        j = x.join(k, "e")
        j.collect()
        assert count_exchanges(j) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(loc, ignore_errors=True)


def test_streaming_log_feeds_incremental_index(spark, tmp_path):
    """The full transactor loop: ops STREAM into the durable log
    (streaming/tx_ingest), then the background indexing job folds the
    log into the current-state EAV store — stream in, pruned store
    out, with displacement and retraction applied."""
    from mbrainz_importer_spark.streaming.tx_ingest import (
        log_as_store_ops,
        read_tx_log,
        start_tx_ingest,
    )

    store_path = str(tmp_path / "store")
    materialize_datoms(
        _store(spark, [("u:1", ":k/bal", "10", 10.0), ("u:2", ":k/bal", "5", 5.0)]),
        store_path,
    )
    ops_schema = "e string, a string, v_num double, tx long, added boolean"
    drop = tmp_path / "ops"
    spark.createDataFrame(
        [("u:1", ":k/bal", 20.0, 2, True),   # card-one displacement
         ("u:2", ":k/bal", 5.0, 3, False)],  # retraction
        ops_schema,
    ).write.parquet(str(drop / "d1"))
    stream = spark.readStream.schema(ops_schema).parquet(f"{drop}/*/")
    q = start_tx_ingest(stream, str(tmp_path / "log"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    log = read_tx_log(spark, str(tmp_path / "log"))
    merge_datoms_increment(spark, store_path, log_as_store_ops(log))
    assert _sorted(read_datoms(spark, store_path)) == [
        ("u:1", ":k/bal", "20", 20.0),
    ]


def test_continuous_store_indexing_stream(spark, tmp_path):
    """start_store_indexing: op micro-batches fold straight into the
    current-state store, one merge per epoch — displacement and
    retraction applied by the time the stream drains."""
    from mbrainz_importer_spark.streaming.tx_ingest import start_store_indexing

    store_path = str(tmp_path / "store")
    materialize_datoms(
        _store(spark, [("u:1", ":k/bal", "10", 10.0), ("u:2", ":k/bal", "5", 5.0)]),
        store_path,
    )
    ops_schema = "e string, a string, v_num double, tx long, added boolean"
    drop = tmp_path / "ops"
    spark.createDataFrame(
        [("u:1", ":k/bal", 20.0, 2, True)], ops_schema
    ).write.parquet(str(drop / "d1"))
    spark.createDataFrame(
        [("u:2", ":k/bal", 5.0, 3, False), ("u:3", ":k/bal", 7.0, 3, True)],
        ops_schema,
    ).write.parquet(str(drop / "d2"))
    stream = (
        spark.readStream.schema(ops_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{drop}/*/")
    )
    q = start_store_indexing(stream, store_path, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _sorted(read_datoms(spark, store_path)) == [
        ("u:1", ":k/bal", "20", 20.0),
        ("u:3", ":k/bal", "7", 7.0),
    ]


def test_live_view_matches_merged_store(spark, tmp_path):
    path = str(tmp_path / "store")
    materialize_datoms(_store(spark, BASE), path)
    live = _sorted(current_datoms(  # evaluate BEFORE the rewrite below
        read_datoms(spark, path), _ops(spark, INCREMENT), card_many={":t/tag"}
    ))
    merge_datoms_increment(
        spark, path, _ops(spark, INCREMENT), card_many={":t/tag"}
    )
    assert live == _sorted(read_datoms(spark, path))


def test_compaction_cadence_policy(spark):
    """The cadence tripwire end-to-end: a table built WITHOUT the
    coalesced write (the pre-discipline fan-out — one file per input
    task x bucket) trips compaction_due; compact_store_if_due repairs
    it to single-file buckets with content preserved; and the healthy
    invariant holds — a coalesced build and every subsequent merge
    keep exactly n_buckets files per partition, never due."""
    import shutil

    from mbrainz_importer_spark.plans.eav import (
        _table_location,
        compact_store_if_due,
        compaction_due,
        materialize_datoms_bucketed,
        merge_datoms_increment_bucketed,
        store_file_census,
    )

    table = "cadence_test"
    big = [(f"t:{i}", ":t/x", str(i), float(i)) for i in range(300)]
    # fragmented build: input arrives as many tasks, each fans out
    materialize_datoms_bucketed(
        _store(spark, big).repartition(24), table, n_buckets=4,
        coalesce_buckets=False,
    )
    due, census = compaction_due(spark, table, n_buckets=4, max_files_per_bucket=2)
    assert due, f"fragmented build not flagged: {census}"
    want = sorted(tuple(r) for r in spark.table(table)
                  .select("e", "a", "v", "v_num").collect())
    assert compact_store_if_due(
        spark, table, n_buckets=4, max_files_per_bucket=2
    ), "policy said due but if_due did not compact"
    due_after, census_after = compaction_due(
        spark, table, n_buckets=4, max_files_per_bucket=2
    )
    assert not due_after, f"just-compacted table still due: {census_after}"
    assert not compact_store_if_due(spark, table, n_buckets=4)
    got = sorted(tuple(r) for r in spark.table(table)
                 .select("e", "a", "v", "v_num").collect())
    assert got == want
    # the healthy invariant: merge after merge, exactly n_buckets files
    for round_no in range(3):
        merge_datoms_increment_bucketed(
            spark, table,
            _ops(spark, [(f"t:{i}", ":t/x", str(i + (round_no + 1) * 1000),
                          float(i + (round_no + 1) * 1000), 10 + round_no, True)
                         for i in range(300)]),
        )
    census = store_file_census(_table_location(spark, table))
    assert all(c["files"] <= 4 for c in census.values()), census
    due, _ = compaction_due(spark, table, n_buckets=4, max_files_per_bucket=2)
    assert not due
    n = spark.table(table).count()
    assert n == 300

    loc = _table_location(spark, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(loc, ignore_errors=True)


class _Crash(Exception):
    pass


def _store_under_test(spark, kind, tmp_path, name):
    """BASE materialized as a plain path store or as an entity-bucketed
    catalog table, with its merge (card-many :t/tag), its sorted
    read-back, its location, its merge staging directory and its
    clean-up."""
    import shutil
    from types import SimpleNamespace

    from mbrainz_importer_spark.plans import eav

    if kind == "plain":
        path = str(tmp_path / name)
        materialize_datoms(_store(spark, BASE), path)
        return SimpleNamespace(
            merge=lambda ops: merge_datoms_increment(
                spark, path, ops, card_many={":t/tag"}
            ),
            read=lambda: _sorted(read_datoms(spark, path)),
            loc=path,
            stage=path + ".__merge_staging",
            drop=lambda: None,
        )
    eav.materialize_datoms_bucketed(_store(spark, BASE), name, n_buckets=2)
    loc = eav._table_location(spark, name)

    def drop():
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        shutil.rmtree(loc, ignore_errors=True)

    return SimpleNamespace(
        merge=lambda ops: eav.merge_datoms_increment_bucketed(
            spark, name, ops, card_many={":t/tag"}
        ),
        read=lambda: _sorted(spark.table(name)),
        loc=loc,
        stage=eav._warehouse_table_dir(spark, name + "__mergestage"),
        drop=drop,
    )


@pytest.mark.parametrize("kind", ["plain", "bucketed"])
def test_merge_crash_mid_swap_heals_on_next_merge(
    spark, tmp_path, monkeypatch, kind
):
    """The write-once merge's commit is per-partition renames; a crash
    between them must heal on the next merge's entry (resume_merge_swap
    from the staging manifest) and converge to the same content as an
    uninterrupted merge — the redelivery contract, extended to the
    commit step. On the bucketed table the heal must also register a
    NEW attribute's partition the crashed merge already moved in."""
    import json

    from mbrainz_importer_spark.plans import eav

    st = _store_under_test(spark, kind, tmp_path, f"crash_heal_{kind}")
    new = ("t:4", ":t/new", "n", None)
    ops_rows = INCREMENT + [new + (10, True)]

    # "crash" once the manifest is written, before any directory move:
    # the staged partitions and manifest exist, the store is untouched
    resume = eav.resume_merge_swap

    def crash_when_staged(dest, stage):
        if os.path.exists(os.path.join(stage, "_MERGE_MANIFEST.json")):
            raise _Crash
        return resume(dest, stage)

    monkeypatch.setattr(eav, "resume_merge_swap", crash_when_staged)
    with pytest.raises(_Crash):
        st.merge(_ops(spark, ops_rows))
    monkeypatch.undo()
    manifest = json.load(open(os.path.join(st.stage, "_MERGE_MANIFEST.json")))
    assert ":t/new" in manifest["staged"], manifest
    assert st.read() == sorted(BASE), (
        "a crash before the first move must leave the store untouched"
    )

    # simulate partial progress: the new attribute's partition moved
    moved = eav._staged_partition_dirs(st.stage)[":t/new"]
    os.rename(os.path.join(st.stage, moved), os.path.join(st.loc, moved))

    # redelivered merge heals the half-done swap, then applies its ops;
    # its no-op probe already sees the moved partition
    seen = []
    probe = eav._increment_is_noop

    def spy(existing, ops):
        seen.extend(_sorted(existing))
        return probe(existing, ops)

    monkeypatch.setattr(eav, "_increment_is_noop", spy)
    st.merge(_ops(spark, ops_rows))
    assert new in seen, "partition moved before the crash invisible after heal"
    assert st.read() == sorted(EXPECTED + [new])
    assert not os.path.exists(st.stage), "staging must be gone after a clean merge"
    st.drop()


@pytest.mark.parametrize("kind", ["plain", "bucketed"])
@pytest.mark.parametrize(
    "heap, split", [(1 << 40, False), (4, True)], ids=["single", "split"]
)
def test_merge_split_gate(spark, tmp_path, monkeypatch, kind, heap, split):
    """Both sides of the merge's split gate, on both layouts: touched
    partitions above heap/4 bytes on disk stage one write per touched
    attribute; at or below it, one write for all of them. The merged
    content is the same on both sides."""
    from mbrainz_importer_spark import budget
    from mbrainz_importer_spark.plans import eav

    st = _store_under_test(spark, kind, tmp_path, f"split_gate_{kind}_{heap}")
    monkeypatch.setattr(budget, "heap_bytes", lambda spark: heap)
    layout = eav._PathLayout if kind == "plain" else eav._TableLayout
    write_stage = layout.write_stage
    firsts = []

    def counting(self, df, first):
        firsts.append(first)
        write_stage(self, df, first)

    monkeypatch.setattr(layout, "write_stage", counting)
    st.merge(_ops(spark, INCREMENT))
    touched = {r[1] for r in INCREMENT}
    assert len(firsts) == (len(touched) if split else 1)
    assert firsts[0] and not any(firsts[1:]), "only the first write overwrites"
    assert st.read() == EXPECTED
    st.drop()


def test_resume_swap_never_deletes_an_already_swapped_partition(tmp_path):
    """The catastrophic case the manifest protocol exists to prevent: a
    manifest listing a staged attribute whose directory has ALREADY
    moved into the store (crash after the rename). Resume must treat
    absence-from-staging as the done marker — never rmtree the store's
    (new) copy."""
    import json

    from mbrainz_importer_spark.plans.eav import resume_merge_swap

    dest = tmp_path / "store"
    stage = tmp_path / "store.__merge_staging"
    (dest / "a=%3At%2Fx").mkdir(parents=True)
    (dest / "a=%3At%2Fx" / "part-0.parquet").write_text("new data")
    stage.mkdir()
    json.dump(
        {"staged": [":t/x"], "emptied": []},
        open(stage / "_MERGE_MANIFEST.json", "w"),
    )
    assert resume_merge_swap(str(dest), str(stage)) is True
    assert (dest / "a=%3At%2Fx" / "part-0.parquet").read_text() == "new data"


def test_bucketed_merge_new_attribute_is_visible(spark):
    """A merge that INTRODUCES an attribute creates a partition
    directory the catalog has never seen; the swap commit must
    register it (the in-memory catalog tracks a partitioned datasource
    table's partitions — an unregistered rename-in is silently
    invisible to spark.table) and deregister fully-retracted ones.
    Found by probe after the write-once swap landed."""
    import shutil

    from mbrainz_importer_spark.plans.eav import (
        _table_location,
        materialize_datoms_bucketed,
        merge_datoms_increment_bucketed,
    )

    table = "merge_bucketed_newattr"
    materialize_datoms_bucketed(
        _store(spark, [("t:1", ":t/x", "1", 1.0)]), table, n_buckets=2
    )
    loc = _table_location(spark, table)
    merge_datoms_increment_bucketed(
        spark, table,
        _ops(spark, [("t:2", ":t/brand_new", "n", None, 10, True)]),
    )
    got = sorted(
        tuple(r)
        for r in spark.table(table).select("e", "a", "v", "v_num").collect()
    )
    assert ("t:2", ":t/brand_new", "n", None) in got, "new partition invisible"
    # and a merge retracting the new attribute entirely deregisters it
    merge_datoms_increment_bucketed(
        spark, table,
        _ops(spark, [("t:2", ":t/brand_new", "n", None, 20, False)]),
    )
    assert spark.table(table).where("a = ':t/brand_new'").count() == 0
    assert (
        spark.sql(f"SHOW PARTITIONS `{table}`")
        .where("partition like '%brand_new%'")
        .count()
        == 0
    ), "emptied partition still registered"
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    shutil.rmtree(loc, ignore_errors=True)


def test_compaction_preserves_partition_visibility(spark):
    """Writer-catalog sweep: same-spec compaction swaps EVERY partition
    directory through staging — including one a recent merge
    introduced. The partition set is invariant across compaction by
    construction; this probe pins that the registrations survive the
    swap (visible rows identical before/after) including through a
    CRASH-HEALED compaction (manifest left mid-swap, healed on the
    next compaction's entry)."""
    import os
    import shutil

    from mbrainz_importer_spark.plans.eav import (
        _table_location,
        _warehouse_table_dir,
        compact_store,
        materialize_datoms_bucketed,
        merge_datoms_increment_bucketed,
    )

    table = "compact_vis_probe"
    materialize_datoms_bucketed(_store(spark, BASE), table, n_buckets=2)
    loc = _table_location(spark, table)
    merge_datoms_increment_bucketed(
        spark, table,
        _ops(spark, [("t:7", ":t/brand_new", "nn", None, 10, True)]),
    )
    before = _sorted(spark.table(table))
    compact_store(spark, table)
    assert _sorted(spark.table(table)) == before, (
        "compaction changed visible content"
    )
    # crash-heal: stage a compaction by hand (manifest written, zero
    # moves done), then require the next compaction entry to heal it
    # without losing any partition's visibility
    import json

    stage = _warehouse_table_dir(spark, table + "__compactstage")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "_MERGE_MANIFEST.json"), "w") as f:
        json.dump({"staged": [], "emptied": []}, f)
    compact_store(spark, table)
    assert _sorted(spark.table(table)) == before
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    shutil.rmtree(loc, ignore_errors=True)


def test_datom_ingest_stream_into_bucketed_store(spark, tmp_path):
    """start_datom_ingest (r10 verdict #7): full-op micro-batches fold
    into the ENTITY-BUCKETED catalog store through the write-once merge
    swap, the in-sink compaction tripwire holds the file census at the
    single-file invariant, displacement/retraction semantics applied by
    drain time, and a REPLAYED drain (fresh checkpoint, same files)
    leaves the store bit-identical — the content-idempotence contract
    that makes the face exactly-once without an epoch ledger."""
    import shutil

    from mbrainz_importer_spark.plans.eav import (
        _table_location,
        compaction_due,
        materialize_datoms_bucketed,
    )
    from mbrainz_importer_spark.streaming.tx_ingest import start_datom_ingest

    table = "datom_ingest_stream_tbl"
    materialize_datoms_bucketed(
        _store(spark, [("u:1", ":k/bal", "10", 10.0),
                       ("u:2", ":k/bal", "5", 5.0)]),
        table, n_buckets=2,
    )
    loc = _table_location(spark, table)
    drop = tmp_path / "ops"
    spark.createDataFrame(
        [("u:1", ":k/bal", "20", 20.0, 2, True)], OPS_SCHEMA
    ).write.parquet(str(drop / "d1"))
    spark.createDataFrame(
        [("u:2", ":k/bal", "5", 5.0, 3, False),
         ("u:3", ":k/tag", "new", None, 3, True)],
        OPS_SCHEMA,
    ).write.parquet(str(drop / "d2"))

    def drain(ckpt):
        stream = (
            spark.readStream.schema(OPS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{drop}/*/")
        )
        sq = start_datom_ingest(stream, table, str(tmp_path / ckpt))
        assert sq.awaitTermination(120)

    drain("ckpt1")
    expected = [
        ("u:1", ":k/bal", "20", 20.0),
        ("u:3", ":k/tag", "new", None),   # new attribute partition visible
    ]
    assert _sorted(spark.table(table)) == expected
    due, _census = compaction_due(spark, table)
    assert not due, "merge path must keep the single-file invariant"
    # replay the whole stream with a fresh checkpoint: content-idempotent.
    # The sink's merges run on the stream's CLONED session, so this
    # session refreshes before re-reading (the reader contract in
    # start_datom_ingest's docstring — same as any external writer
    # against a shared metastore).
    drain("ckpt2")
    spark.catalog.refreshTable(table)
    assert _sorted(spark.table(table)) == expected
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    shutil.rmtree(loc, ignore_errors=True)


def test_swap_machinery_generic_partition_column(tmp_path):
    """r13: the write-once swap machinery generalized over the hive
    partition column (the IVF index swaps `cell=` directories). The
    manifest records its column; resume honors it — staged cells swap
    in, emptied cells are removed, pre-r13 manifests without a col key
    keep the attribute-store default."""
    import json

    from mbrainz_importer_spark.plans.eav import (
        _swap_staged_partitions,
        resume_merge_swap,
    )

    dest = tmp_path / "ivf"
    stage = tmp_path / "ivf.__merge_staging"
    (dest / "cell=0").mkdir(parents=True)
    (dest / "cell=0" / "part-0.parquet").write_text("old cell0")
    (dest / "cell=1").mkdir()
    (dest / "cell=1" / "part-0.parquet").write_text("old cell1")
    (dest / "cell=2").mkdir()
    (dest / "cell=2" / "part-0.parquet").write_text("untouched cell2")
    (stage / "cell=0").mkdir(parents=True)
    (stage / "cell=0" / "part-0.parquet").write_text("new cell0")
    # touched = {0, 1}, but only cell 0 was staged -> cell 1 was emptied
    _swap_staged_partitions(str(stage), str(dest), ["0", "1"], col="cell")
    manifest = json.load(open(stage / "_MERGE_MANIFEST.json"))
    assert manifest == {"col": "cell", "staged": ["0"], "emptied": ["1"]}
    assert (dest / "cell=0" / "part-0.parquet").read_text() == "new cell0"
    assert not (dest / "cell=1").exists(), "emptied cell must be removed"
    assert (dest / "cell=2" / "part-0.parquet").read_text() == "untouched cell2"
    # idempotent re-resume from the completed state (crash-after-commit)
    assert resume_merge_swap(str(dest), str(stage)) is True
    assert (dest / "cell=0" / "part-0.parquet").read_text() == "new cell0"
    assert (dest / "cell=2").exists()
