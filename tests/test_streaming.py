"""Structured Streaming: real readStream runs of the window operators
(availableNow) must equal their batch results; the exactly-once
foreachBatch sink must survive restarts and replays."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from mbrainz_importer_spark.operators.idempotency import (
    IdempotentParquetSink,
    committed_files,
)
from mbrainz_importer_spark.streaming.exactly_once import (
    idempotent_foreach_batch,
    start_exactly_once,
)
from mbrainz_importer_spark.streaming.windows import session_counts, tumbling_counts
from mbrainz_importer_spark.tables import load
from tests.conftest import count_jobs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events re-landed as micros-NTZ parquet (the raw file is
    TIMESTAMP(NANOS), unreadable by the streaming parquet source)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, SF, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def events_stream_schema(spark, events_dir):
    return spark.read.parquet(events_dir).schema


def _run_stream_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def canon(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_streaming_tumbling_equals_batch(spark, events_dir, events_stream_schema):
    stream = spark.readStream.schema(events_stream_schema).parquet(events_dir)
    out = _run_stream_to_memory(spark, tumbling_counts(stream), "t_tumble")
    batch = tumbling_counts(load(spark, SF, "events"))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert canon(out, cols) == canon(batch, cols)


def test_streaming_session_equals_batch(spark, events_dir, events_stream_schema):
    stream = spark.readStream.schema(events_stream_schema).parquet(events_dir)
    out = _run_stream_to_memory(spark, session_counts(stream), "t_session")
    batch = session_counts(load(spark, SF, "events"))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert canon(out, cols) == canon(batch, cols)


def test_exactly_once_sink_restart_and_replay(spark, events_dir, events_stream_schema, tmp_path_factory):
    base = tmp_path_factory.mktemp("eo")
    sink_path = str(base / "sink")
    ckpt = str(base / "ckpt")

    stream = spark.readStream.schema(events_stream_schema).parquet(events_dir)
    q1 = start_exactly_once(stream, sink_path, ckpt)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(sink_path).count()
    assert n1 == load(spark, SF, "events").count()

    # restart with same checkpoint: no new data -> no new rows
    stream2 = spark.readStream.schema(events_stream_schema).parquet(events_dir)
    q2 = start_exactly_once(stream2, sink_path, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink_path).count() == n1

    # simulate a replayed micro-batch (fresh checkpoint, same epoch ids):
    # the sink holds every epoch id, so the delivery appends nothing
    files = committed_files(sink_path)
    ckpt2 = str(base / "ckpt2")
    stream3 = spark.readStream.schema(events_stream_schema).parquet(events_dir)
    q3 = start_exactly_once(stream3, sink_path, ckpt2)
    q3.awaitTermination(120)
    assert spark.read.parquet(sink_path).count() == n1
    assert committed_files(sink_path) == files


def test_exactly_once_micro_batch_job_budget(spark, tmp_path):
    """Each micro-batch is one observed append: a cold epoch runs the
    write alone, a warm one adds the ledger check, and a replayed one
    runs the check alone and appends no part file."""
    src = tmp_path / "src"
    for i in range(3):
        spark.createDataFrame([(i, j) for j in range(10)], "f int, x long") \
            .coalesce(1).write.parquet(str(src / f"f{i}"))
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    write = idempotent_foreach_batch(sink, "epoch", lambda df: df)
    jobs = []

    def counted(batch_df, epoch_id):
        group = f"test-streaming-budget-{len(jobs)}"
        jobs.append(count_jobs(spark, group, lambda: write(batch_df, epoch_id))[1])

    def run(ckpt):
        stream = (
            spark.readStream.schema("f int, x long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        stream.writeStream.foreachBatch(counted).option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).trigger(availableNow=True).start().awaitTermination(120)

    run("ckpt")
    n = spark.read.parquet(sink.path).count()
    files = committed_files(sink.path)
    run("ckpt-replay")  # fresh checkpoint: every epoch id is delivered again
    cold, *warm = jobs[:3]
    assert len(jobs) == 6 and n == 30
    assert cold == 1 and max(warm) <= 3 and max(jobs[3:]) <= 2, jobs
    assert spark.read.parquet(sink.path).count() == n
    assert committed_files(sink.path) == files


def test_one_stream_tail_and_one_epoch_tag():
    """Only `exactly_once.py` starts a foreachBatch stream (`drain`) and
    tags rows with a batch id (`idempotent_foreach_batch`); every other
    streaming module states only what its epoch computes."""
    exempt = {
        # a memory sink in complete mode, not a foreachBatch fold
        ("backpressure.py", "replay_counts_available_now", "trigger"),
        # returns the foreachBatch writer: its caller adds the trigger and
        # checkpoint by contract
        ("tx_watch.py", "watch_summaries", "foreachBatch"),
    }
    pkg = Path(__file__).resolve().parents[1] / "mbrainz_importer_spark" / "streaming"
    found = []
    for path in sorted(pkg.glob("*.py")):
        if path.name == "exactly_once.py":
            continue
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                name = getattr(node, "attr", None) or getattr(node, "id", None)
                if name in ("trigger", "foreachBatch", "concat_ws") and (
                    path.name, getattr(top, "name", None), name
                ) not in exempt:
                    found.append(f"{path.name}:{node.lineno} {name}")
    assert not found, found


def test_streaming_dim_enriched_equals_batch(spark, events_dir, events_stream_schema):
    from mbrainz_importer_spark.streaming.windows import dim_enriched_tumbling_counts

    dim = load(spark, SF, "customer")
    stream = spark.readStream.schema(events_stream_schema).parquet(events_dir)
    out = _run_stream_to_memory(
        spark, dim_enriched_tumbling_counts(stream, dim), "t_enrich"
    )
    batch = dim_enriched_tumbling_counts(load(spark, SF, "events"), dim)
    cols = ["window_start", "segment", "n_events", "sum_value"]
    assert canon(out, cols) == canon(batch, cols)


def test_backpressure_available_now_slices_and_matches_batch(spark, tmp_path):
    from mbrainz_importer_spark.streaming.backpressure import (
        replay_counts_available_now,
    )

    df = spark.createDataFrame(
        [(i, "t" + str(i % 3)) for i in range(60)], "id long, kind string"
    )
    src = str(tmp_path / "bp-src")
    df.repartition(6).write.parquet(src)

    out = replay_counts_available_now(
        spark, src, schema="id long, kind string", group_col="kind",
        max_files_per_trigger=2, min_triggers=3,
    )
    got = {r["kind"]: r["n_events"] for r in out.collect()}
    assert got == {"t0": 20, "t1": 20, "t2": 20}

    # a bound admitting the whole backlog in one trigger trips the
    # multi-trigger assertion
    import pytest

    with pytest.raises(RuntimeError, match="micro-batches"):
        replay_counts_available_now(
            spark, src, schema="id long, kind string", group_col="kind",
            max_files_per_trigger=100, min_triggers=3,
        )
