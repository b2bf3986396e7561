"""Composed-pipeline driver gates: the end-to-end corpus curation flow
(filter -> exact dedup -> sequence packing -> sharding) and the
tx-report summary envelope — each a single oracle-paired DataFrame so
the driver certifies the COMPOSITION, not just the stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import curation as C
from ..operators.text import token_count, token_fingerprint_norm
from ..streaming.tx_watch import tx_summaries
from ..tables import load

_SQL_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

_MIN_TOKENS = 30
_PACK_CAPACITY = 64
_N_SHARDS = 8


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data flow over `documents`, one plan:

      1. quality filter: >= 30 tokens;
      2. exact dedup: canonical survivor (min doc_id) per content
         identity, applied AFTER the filter. Identity is the
         TOKEN-SEQUENCE canonical form (token_fingerprint_norm:
         case-folded, non-alphanumeric runs as separators), grouped by
         its xxhash64 — one split pass where the md5/regex-delete form
         cost two global regexp_replace passes that dominated the whole
         pipeline at the 100x tier; the oracle groups by the canonical
         string itself so the identity, not the hash, is certified;
      3. concat-and-chunk packing of the survivors in doc_id order
         (distributed two-phase cumsum, capacity 64);
      4. deterministic md5 shard assignment (8 shards).

    Returns (doc_id, n_tokens, start_offset, first_pack, shard) — what a
    training job needs to locate every surviving document's tokens."""
    docs = load(spark, sf_dir, "documents")
    # tokenize ONCE: the filter's count is reused by the packing stage
    counted = docs.select(
        "doc_id", "text", token_count(F.col("text")).alias("__n")
    ).where(F.col("__n") >= _MIN_TOKENS)
    h = F.xxhash64(token_fingerprint_norm(F.col("text")))
    hashed = counted.select("doc_id", "__n", h.alias("__h"))
    # canonical survivor via a hash-partitioned window min: one shuffle
    # on __h and — decisively — ONE evaluation of the tokenize+md5 scan.
    # The groupBy + rejoin formulation fed BOTH join sides from that
    # scan, so the regex-heavy subplan ran twice (measured 3.6x
    # end-to-end at sf10: 54.7s -> 15.2s)
    w = Window.partitionBy("__h")
    survivors = (
        hashed.withColumn("__canon", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__canon"))
        .select("doc_id", "__n")
        # materialize once: stable_cumsum makes two bounded passes (the
        # observed boundary quantiles, the per-bucket sums) plus the final
        # job — without this the whole filter+dedup subplan would run
        # three times
        .localCheckpoint()
    )
    packed = C.pack_sequences(
        survivors, "doc_id", "text", capacity=_PACK_CAPACITY, n_tokens_col="__n"
    )
    sharded = C.assign_shards(packed, "doc_id", n_shards=_N_SHARDS)
    return sharded.select(
        "doc_id", "n_tokens", "start_offset", "first_pack", "shard"
    ).orderBy("doc_id")


def tx_report_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tx-report-queue envelope on its batch face: events grouped
    ten-per-transaction into a datom log (same derivation both engines),
    summarized to (tx, n_datoms, n_asserts, n_retracts)."""
    ev = load(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("e"),
        F.concat(F.lit(":user/"), F.col("event_type")).alias("a"),
        F.col("value").alias("v_num"),
        F.floor(F.col("event_id") / 10).cast("long").alias("tx"),
        (F.col("event_id") % 7 != 0).alias("added"),
    )
    return tx_summaries(log).orderBy("tx")


QUERIES = {
    "curation_pipeline": curation_pipeline,
    "tx_report_summaries": tx_report_summaries,
}

ORACLES = {
    "curation_pipeline": f"""
        WITH filtered AS (
            SELECT doc_id, text, len({_SQL_TOKS}) AS n
            FROM documents
            WHERE len({_SQL_TOKS}) >= {_MIN_TOKENS}
        ),
        hashed AS (
            SELECT doc_id, n,
                   trim(array_to_string(string_split_regex(lower(text), '[^a-z0-9]+'), ' ')) AS h
            FROM filtered
        ),
        canon AS (SELECT h, min(doc_id) AS canon_id FROM hashed GROUP BY h),
        survivors AS (
            SELECT doc_id, n
            FROM hashed JOIN canon ON hashed.h = canon.h
            WHERE doc_id = canon_id
        ),
        cum AS (
            SELECT doc_id, n,
                   SUM(n) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
            FROM survivors
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(c - n AS BIGINT) AS start_offset,
               CAST(floor((c - n) / {_PACK_CAPACITY}.0) AS BIGINT) AS first_pack,
               CAST(try_cast('0x' || substr(md5('shard-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {_N_SHARDS} AS INT) AS shard
        FROM cum
        ORDER BY doc_id
    """,
    "tx_report_summaries": """
        WITH log AS (
            SELECT CAST(floor(event_id / 10) AS BIGINT) AS tx,
                   event_id % 7 <> 0 AS added
            FROM events
        )
        SELECT tx,
               count(*) AS n_datoms,
               CAST(sum(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT) AS n_asserts,
               CAST(sum(CASE WHEN NOT added THEN 1 ELSE 0 END) AS BIGINT) AS n_retracts
        FROM log
        GROUP BY tx
        ORDER BY tx
    """,
}
