"""Streaming transactor (streaming/tx_ingest.py): ops stream into the
durable log; as-of over the accumulated store equals batch; replays
never double-write; compaction preserves the log and prunes."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.operators.idempotency import committed_files
from mbrainz_importer_spark.plans.history import as_of, read_log, tx_range
from mbrainz_importer_spark.streaming.tx_ingest import (
    compact_log,
    read_tx_log,
    start_tx_ingest,
)

OPS1 = [("u1", ":k/bal", 10.0, 1, True), ("u2", ":k/bal", 5.0, 1, True)]
OPS2 = [("u1", ":k/bal", 20.0, 2, True), ("u2", ":k/bal", 5.0, 3, False)]
SCHEMA = "e string, a string, v_num double, tx long, added boolean"


@pytest.fixture(scope="module")
def op_dirs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("txops")
    spark.createDataFrame(OPS1, SCHEMA).write.parquet(str(d / "drop1"))
    spark.createDataFrame(OPS2, SCHEMA).write.parquet(str(d / "drop2"))
    return str(d)


def _stream(spark, op_dirs):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{op_dirs}/*/")
    )


def test_ingest_asof_equals_batch_and_replay(spark, op_dirs, tmp_path_factory):
    base = tmp_path_factory.mktemp("txlog")
    out, ckpt = str(base / "log"), str(base / "ckpt")

    q = start_tx_ingest(_stream(spark, op_dirs), out, ckpt)
    q.awaitTermination(120)

    log = read_tx_log(spark, out)
    batch_log = spark.createDataFrame(OPS1 + OPS2, SCHEMA)

    for t in (1, 2, 3):
        got = sorted(map(tuple, as_of(log, t).collect()))
        want = sorted(map(tuple, as_of(batch_log, t).collect()))
        assert got == want, t
    # state narrative: t=1 both present; t=2 u1 updated; t=3 u2 retracted
    final = {r["e"]: r["v_num"] for r in as_of(log, 3).collect()}
    assert final == {"u1": 20.0}

    assert sorted(map(tuple, tx_range(log, 2, 3).collect())) == sorted(
        map(tuple, tx_range(batch_log, 2, 3).collect())
    )

    # replay with a fresh checkpoint: every epoch id is held, no growth
    n = log.count()
    files = committed_files(out)
    q2 = start_tx_ingest(_stream(spark, op_dirs), out, str(base / "ckpt2"))
    q2.awaitTermination(120)
    assert read_tx_log(spark, out).count() == n == 4
    assert committed_files(out) == files

    # compaction: same log content, attribute-partitioned layout
    store = str(base / "store")
    compact_log(spark, out, store)
    compacted = read_log(spark, store)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, read_tx_log(spark, out).collect())
    )
    plan = (
        compacted.where("a = ':k/bal'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(a" in plan, plan


def test_sliver_ingest_touches_only_streamed_partition(spark, tmp_path):
    """stream_datom_ingest_sliver's tier claim, pinned at gate shape:
    while the stream drains a single-attribute sliver into the
    multi-attribute store, every UNSTREAMED attribute partition's
    files survive byte-identical (name+mtime+size) — the merge epochs,
    running on the stream's cloned session, rewrite exactly the
    touched partition."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from mbrainz_importer_spark.plans.eav import (
        _drop_stale_table,
        _table_location,
        materialize_datoms_bucketed,
        read_datoms_bucketed,
        table_datoms,
    )
    from mbrainz_importer_spark.streaming.tx_ingest import start_datom_ingest
    from mbrainz_importer_spark.tables import load

    t = "datoms_sliver_probe"
    orders = load(spark, "/root/testdata/sf0.001", "orders")
    all_d = table_datoms(orders, "orders", "o_orderkey")
    key = F.split(F.col("e"), ":").getItem(1).cast("long")
    held = (F.col("a") == ":orders/o_totalprice") & (key % 10 == 0)
    _drop_stale_table(spark, t)
    materialize_datoms_bucketed(all_d.where(~held), t, 4)
    loc = _table_location(spark, t).replace("file:", "")

    def state(part):
        d = os.path.join(loc, part)
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)),
             os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    parts = sorted(n for n in os.listdir(loc) if n.startswith("a="))
    untouched = [p for p in parts if "o_totalprice" not in p]
    assert len(untouched) == len(parts) - 1 and len(parts) >= 5
    before = {p: state(p) for p in untouched}

    inc = all_d.where(held).select(
        "e", "a", "v", "v_num",
        F.lit(1).cast("long").alias("tx"), F.lit(True).alias("added"),
    )
    src = tempfile.mkdtemp(prefix="sliver-probe-")
    inc.coalesce(1).write.parquet(os.path.join(src, "d0"))
    stream = (
        spark.readStream.schema(inc.schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/*/")
    )
    sq = start_datom_ingest(stream, t, tempfile.mkdtemp(prefix="sliver-ck-"))
    assert sq.awaitTermination(120)
    spark.catalog.refreshTable(t)
    for p in untouched:
        assert state(p) == before[p], f"unstreamed partition rewritten: {p}"
    # and the drained store is complete: every order has its price back
    n = read_datoms_bucketed(spark, t).where(
        F.col("a") == ":orders/o_totalprice"
    ).count()
    assert n == orders.count()
    spark.sql(f"DROP TABLE IF EXISTS {t}")
