"""Regression tests for the round-3 ADVICE items: quantile bucket
boundaries on a skewed key, the bucket comparison tree, numbering edge
cases, typed (non-truncating) stable_cumsum, zero-token pack ids,
excision audit entity, and the foreachBatch tx-report envelope helper."""

from __future__ import annotations

import bisect

import pytest
from pyspark.sql import functions as F

from mbrainz_importer_spark.operators import curation as C
from mbrainz_importer_spark.operators.batching import (
    _bucket_expr,
    _bucketed_with_stats,
    stable_cumsum,
    stable_row_number,
)
from mbrainz_importer_spark.streaming.tx_watch import (
    TX_LOG_SCHEMA,
    tx_report_stream,
    watch_summaries,
)


# -- quantile boundaries ---------------------------------------------------

def _skewed_df(spark, n=2000):
    """Dense values 0..n-1 plus one extreme outlier: min/max interpolation
    would put every dense row in bucket 0."""
    rows = [(float(i), i) for i in range(n)] + [(1.0e12, n)]
    return spark.createDataFrame(rows, "k double, payload long")


def test_quantile_boundaries_balance_a_skewed_key(spark):
    df = _skewed_df(spark)
    bucketed, rows = _bucketed_with_stats(df, "k", 16, None)
    counts = sorted(r["cnt"] for r in rows)
    total = sum(counts)
    # the quantiles spread the dense mass over many buckets; interpolated
    # [min, max] boundaries would have put 2000/2001 rows in one.
    assert len(counts) >= 8
    assert max(counts) < total / 2


@pytest.mark.parametrize("k", [1, 2, 5, 256])
def test_bucket_tree_equals_bisect(spark, k):
    bounds = [10 * i for i in range(k - 1)]
    values = sorted({b + d for b in bounds for d in (-1, 0, 1)} | {-(10 ** 6), 10 ** 6})
    df = spark.createDataFrame([(v,) for v in values] + [(None,)], "v long")
    got = dict(df.select("v", _bucket_expr(F.col("v"), bounds).alias("b")).collect())
    assert got == {v: bisect.bisect_left(bounds, v) for v in values} | {None: -1}


def _ranks_and_sums(keys):
    """Python's sorted ranks and running sums of v = 1 + |key| % 7, by key
    (nulls first, as Spark sorts them) and then the row's index."""
    rows = sorted(enumerate(keys), key=lambda r: (r[1] is not None, r[1], r[0]))
    ranks, sums, acc = {}, {}, 0
    for rank, (i, key) in enumerate(rows, start=1):
        acc += 1 + abs(key or 0) % 7
        ranks[i], sums[i] = rank, acc
    return ranks, sums


@pytest.mark.parametrize("keys", [
    [],
    [None, None, None],
    [42],
    [7] * 5,
    [-5, 3, -(2 ** 40), 0, -1, 2 ** 40, -5],
    [rank * 2 ** 40 + i for rank in (2, 0, 1) for i in range(4)],
], ids=["empty", "all-null", "one-row", "one-value", "negative", "file-strided"])
def test_numbering_edge_cases(spark, keys):
    df = spark.createDataFrame(
        [(k, i, 1 + abs(k or 0) % 7) for i, k in enumerate(keys)],
        "k long, i long, v long",
    )
    ranks, sums = _ranks_and_sums(keys)
    numbered = stable_row_number(df, ["k", "i"], out_col="rn").collect()
    assert {r["i"]: r["rn"] for r in numbered} == ranks
    summed = stable_cumsum(df, ["k", "i"], "v", out_col="c").collect()
    assert {r["i"]: r["c"] for r in summed} == sums


def test_stable_row_number_correct_on_skewed_key(spark):
    df = _skewed_df(spark, n=500)
    out = stable_row_number(df, ["k"], out_col="rn").collect()
    by_rank = sorted(out, key=lambda r: r["rn"])
    assert [r["rn"] for r in by_rank] == list(range(1, len(out) + 1))
    assert [r["k"] for r in by_rank] == sorted(r["k"] for r in out)


# -- typed cumulative sum --------------------------------------------------

def test_stable_cumsum_keeps_fractional_values(spark):
    vals = [0.25, 1.5, 2.75, 0.125, 3.0, 0.5]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v double"
    )
    got = stable_cumsum(df, ["k"], "v", out_col="c")
    assert dict(got.dtypes)["c"] == "double"
    rows = {r["k"]: r["c"] for r in got.collect()}
    acc = 0.0
    for i, v in enumerate(vals):
        acc += v
        assert abs(rows[i] - acc) < 1e-9


def test_stable_cumsum_integral_stays_long(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "k long, v int")
    got = stable_cumsum(df, ["k"], "v", out_col="c")
    assert dict(got.dtypes)["c"] == "bigint"
    assert {r["k"]: r["c"] for r in got.collect()} == {1: 2, 2: 5}


# -- zero-token documents occupy no pack -----------------------------------

def test_pack_sequences_zero_token_docs(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, 4), (4, 0)], "doc_id long, n long"
    )
    out = {
        r["doc_id"]: r
        for r in C.pack_sequences(df, n_tokens_col="n", capacity=6).collect()
    }
    for empty_id in (2, 4):
        assert out[empty_id]["first_pack"] is None
        assert out[empty_id]["last_pack"] is None
        assert out[empty_id]["n_packs_spanned"] == 0
    # non-empty docs are packed exactly as if the empty ones were absent
    assert (out[1]["first_pack"], out[1]["last_pack"]) == (0, 0)
    assert (out[3]["first_pack"], out[3]["last_pack"]) == (0, 1)
    assert out[3]["start_offset"] == 5


# -- foreachBatch tx-report envelopes --------------------------------------

def test_watch_summaries_delivers_per_batch_envelopes(spark, tmp_path):
    log = str(tmp_path / "txlog")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [
            ("u:1", ":a", 1.0, 1, True),
            ("u:2", ":a", 2.0, 1, True),
            ("u:1", ":b", 3.0, 2, False),
        ],
        TX_LOG_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(log)

    envelopes: list[tuple[int, dict]] = []

    def emit(env_df, batch_id):
        envelopes.append(
            (batch_id, {r["tx"]: (r["n_datoms"], r["n_asserts"], r["n_retracts"])
                        for r in env_df.collect()})
        )

    q = (
        watch_summaries(tx_report_stream(spark, log), emit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(envelopes) == 1
    assert envelopes[0][1] == {1: (2, 2, 0), 2: (1, 0, 1)}
