"""Streaming covariance moments (streaming/moments_ingest.py): drained
stream == single batch pass; replays never double-count (moment sums
are NOT idempotent, so the epoch ledger is the correctness mechanism)."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.operators.idempotency import committed_files
from mbrainz_importer_spark.operators.pca import integer_moments
from mbrainz_importer_spark.streaming.moments_ingest import (
    read_merged_moments, start_moments_ingest,
)

BATCH1 = [(0, [1.0, 2.0]), (1, [3.0, 0.0])]
BATCH2 = [(2, [2.0, 2.0]), (3, [0.0, 4.0]), (4, [1.0, 1.0])]
SCHEMA = "vec_id long, embedding array<double>"


@pytest.fixture(scope="module")
def drops(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("momdrops")
    spark.createDataFrame(BATCH1, SCHEMA).write.parquet(str(d / "drop1"))
    spark.createDataFrame(BATCH2, SCHEMA).write.parquet(str(d / "drop2"))
    return str(d)


def _key(rows):
    return {(r["i"], r["j"]): (r["sxy"], r["sx"], r["sy"], r["n"]) for r in rows}


def test_drained_stream_equals_batch_and_replay_safe(spark, drops, tmp_path_factory):
    base = tmp_path_factory.mktemp("momout")
    out, ckpt = str(base / "moments"), str(base / "ckpt")

    def stream():
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{drops}/*/")
        )

    q = start_moments_ingest(stream(), out, ckpt, dim=2)
    q.awaitTermination(120)

    batch = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    want = _key(integer_moments(batch, "embedding", 2).collect())
    got = _key(read_merged_moments(spark, out).collect())
    assert got == want

    # full replay with a fresh checkpoint: same epoch ids, skipped —
    # sums unchanged (addition is not idempotent; the ledger is)
    files = committed_files(out)
    q2 = start_moments_ingest(stream(), out, str(base / "ckpt2"), dim=2)
    q2.awaitTermination(120)
    assert _key(read_merged_moments(spark, out).collect()) == want
    assert committed_files(out) == files


def test_grid_args_must_come_together(spark):
    from mbrainz_importer_spark.streaming.moments_ingest import (
        moments_epoch_summary,
    )
    df = spark.createDataFrame(BATCH1, SCHEMA)
    with pytest.raises(ValueError, match="both lo and hi"):
        moments_epoch_summary(df, "embedding", 2, lo=[0.0, 0.0])
