"""Gates for distributed PCA (operators/pca.py).

Certification recipe (the quantize.py SQ8 trick): the corpus is
quantized to the integer grid both engines agree on bit-for-bit, and
the covariance MOMENTS — the only distributed stage of PCA — are
oracle-paired corpus-wide as exact BIGINT sums (`embedding_covariance_q8`
hash-matches a DuckDB twin that cross-unnests the codes and has never
heard of mapInPandas or the one-pass summary layout). The eig + project
stages are driver-side d×d / pure projection; they get a rows-only face
(`embedding_pca_project`) with the certified moments twin plus the
property tests in tests/test_pca.py (orthonormal components, descending
explained variance, float face == integer face on code-valued input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pca import (
    covariance_stats, integer_moments, merge_integer_moments,
    pca_components, pca_project,
)
from ..operators.quantize import sq8_code, sq8_train_bounds
from ..tables import load
from .quantize_queries import _CODES_CTE, DIM


def embedding_covariance_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle second moments of the SQ8-coded corpus: for every
    dimension pair i ≤ j, (sxy = Σ c_i·c_j, sx = Σ c_i, sy = Σ c_j, n) —
    exact integers, one Arrow pass over the corpus, one summary-cell
    shuffle (operators/pca.integer_moments)."""
    emb = load(spark, sf_dir, "embeddings")
    lo, hi = sq8_train_bounds(emb, "embedding", DIM)
    codes = emb.select(sq8_code(F.col("embedding"), lo, hi).alias("c"))
    return (
        integer_moments(codes, "c", DIM)
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "sxy",
            "sx",
            "sy",
            "n",
        )
        .orderBy("i", "j")
    )


def embedding_covariance_q8_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental path certified corpus-wide: moments of two
    disjoint halves (grid trained ONCE on the full corpus — the fixed
    quantization artifact) merged by addition must hash-equal the
    single-pass moments of the whole corpus, i.e. the same oracle as
    embedding_covariance_q8. History is never rescanned on arrival."""
    emb = load(spark, sf_dir, "embeddings")
    lo, hi = sq8_train_bounds(emb, "embedding", DIM)

    def codes(df):
        return df.select(sq8_code(F.col("embedding"), lo, hi).alias("c"))

    old = integer_moments(codes(emb.where(F.col("vec_id") % 2 == 0)), "c", DIM)
    new = integer_moments(codes(emb.where(F.col("vec_id") % 2 == 1)), "c", DIM)
    return (
        merge_integer_moments(old, new)
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "sxy",
            "sx",
            "sy",
            "n",
        )
        .orderBy("i", "j")
    )


def stream_covariance_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run inside the gate: the embeddings corpus is laid
    out as 4 parquet drops and drained through Trigger.AvailableNow with
    maxFilesPerTrigger=1 (≥4 data-carrying epochs), each epoch SQ8-coded
    with the corpus-trained grid (the fixed artifact) and reduced to its
    bounded moments summary through the epoch ledger
    (streaming/moments_ingest.py). The merged history must hash-equal
    the SAME corpus-wide DuckDB oracle as the batch face — the stream,
    the incremental merge, and the single pass are one certified
    semantics. Moment sums are not idempotent, so this gate also
    exercises the replay correctness mechanism (the batch-id anti-join)
    end-to-end."""
    import tempfile

    from ..streaming.moments_ingest import (
        read_merged_moments, start_moments_ingest,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lo, hi = sq8_train_bounds(emb, "embedding", DIM)
    src = tempfile.mkdtemp(prefix="mom-src-")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    base = tempfile.mkdtemp(prefix="mom-out-")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_moments_ingest(
        stream, f"{base}/sink", f"{base}/ckpt", dim=DIM, lo=lo, hi=hi
    )
    q.awaitTermination(300)
    return (
        read_merged_moments(spark, f"{base}/sink")
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "sxy",
            "sx",
            "sy",
            "n",
        )
        .orderBy("i", "j")
    )


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production face: top-4 principal-component coordinates for a
    bounded query set, fit on the full corpus. Rows-only by documented
    contract — the eigendecomposition is not SQL-expressible — with the
    certified moments twin above; coordinates rounded for a stable
    display contract."""
    emb = load(spark, sf_dir, "embeddings")
    mean, cov, _ = covariance_stats(emb, "embedding", DIM)
    comps, _ = pca_components(cov, 4)
    return (
        pca_project(emb.where(F.col("vec_id") < 50), "embedding", mean, comps)
        .select(
            "vec_id",
            *[F.round(F.col(f"pc{k}"), 4).alias(f"pc{k}") for k in range(1, 5)],
        )
        .orderBy("vec_id")
    )


QUERIES = {
    "embedding_covariance_q8": embedding_covariance_q8,
    "embedding_covariance_q8_incremental": embedding_covariance_q8_incremental,
    "stream_covariance_moments": stream_covariance_moments,
    "embedding_pca_project": embedding_pca_project,
}

ORACLES = {
    "embedding_covariance_q8": f"""
        WITH {_CODES_CTE}
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
               CAST(SUM(c[i] * c[j]) AS BIGINT) AS sxy,
               CAST(SUM(c[i]) AS BIGINT) AS sx,
               CAST(SUM(c[j]) AS BIGINT) AS sy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM codes,
             UNNEST(range(1, {DIM + 1})) AS t1(i),
             UNNEST(range(1, {DIM + 1})) AS t2(j)
        WHERE i <= j
        GROUP BY i, j
        ORDER BY i, j
    """,
}

# merge-of-halves and the drained stream must equal the single pass —
# same oracle for all three build paths
ORACLES["embedding_covariance_q8_incremental"] = ORACLES["embedding_covariance_q8"]
ORACLES["stream_covariance_moments"] = ORACLES["embedding_covariance_q8"]
