"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
  - exact dedup is a hash-groupBy — one shuffle on a 128-bit key, with
    map-side partial aggregation;
  - pairwise similarity NEVER does a cross join: candidate pairs come from
    an inverted index (shared shingle) or LSH band buckets, so the join
    fans out only where documents actually collide;
  - all hashes are md5-derived (JVM built-in, reproducible EVERYWHERE —
    including the DuckDB oracle via try_cast('0x'||substr(md5(..)..)) —
    and stable across Spark versions, unlike xxhash64 seeds);
  - per-doc shingle sets stay bounded (distinct word n-grams), so skewed
    giant documents cannot blow up a band bucket: LSH bucket width is
    controlled by bands × rows, not document size.

Spark-first: everything below is built-in expressions + joins; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import bcast, settle
from .text import normalize_for_fingerprint, token_fingerprint_norm, tokens


# -------------------------------------------------------------------------
# exact
# -------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical normalized content; canonical survivor = min id.
    Returns (canonical_id, group_size, content_hash)."""
    h = F.md5(normalize_for_fingerprint(F.col(text_col)))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def exact_dedup_groups_fast(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The PRODUCTION exact-dedup face: group by
    xxhash64(token-sequence canonical form) instead of md5(regex-deleted
    form). Two deliberate changes vs `exact_dedup_groups`, both for the
    100 TB scan:

    - `token_fingerprint_norm` replaces the two global regexp_replace
      passes with one split — the replace passes are the ENTIRE cost of
      the md5 face (measured: 14.7s of a 15.8s gate at the 10x tier;
      scan I/O is 0.4s), so this face runs the same corpus in ~2s.
    - xxhash64 (64-bit, JVM codegen) replaces md5, and the GROUPING KEY
      is the hash, so the shuffle carries 8 bytes per row instead of the
      canonical text. Identity-by-hash is exact up to 64-bit collisions
      (~n^2/2^65: odds ~3e-8 for a billion-document corpus — the
      standard exact-dedup contract; use the md5 face where a
      cryptographic fingerprint must appear in the OUTPUT).

    Returns (canonical_id, group_size) — hash values stay internal, so
    the DuckDB oracle groups by the canonical STRING itself and the two
    groupings agree row-for-row."""
    h = F.xxhash64(token_fingerprint_norm(F.col(text_col)))
    return (
        df.select(F.col(id_col), h.alias("__h"))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select("canonical_id", "group_size")
    )


# -------------------------------------------------------------------------
# shingling + n-gram Jaccard
# -------------------------------------------------------------------------

def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle) — the
    inverted-index feed. Distinctness bounds per-doc weight."""
    # materialize the token array ONCE: referencing the tokenizer expression
    # inside the transform lambda would re-split the whole document for
    # every element_at (no CSE across lambda boundaries — measured 10x on
    # the shingle stage).
    toked = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks"))
    t = F.col("__toks")
    # shingle i = tokens[i..i+n-1] joined by single space, for i in 0..len-n.
    # guard: sequence(0, -1) DESCENDS in Spark, so short docs need an
    # explicit empty array, not a clamped bound.
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(0), F.size(t) - n)
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, n), " "))
    return toked.select("doc", F.explode(F.array_distinct(shingles)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Pairwise Jaccard over shingle sets via shared-shingle inverted-index
    join (no cross join): J(a,b) = |A∩B| / (|A|+|B|-|A∩B|).
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    `shingles` lets a combined pipeline (e.g. LSH candidates -> exact
    verify) feed one cached shingle DataFrame to this AND the minhash
    path instead of re-shingling the corpus per operator."""
    sh = shingles if shingles is not None else shingle_rows(df, id_col, text_col, n).cache()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    # threshold is applied to the UNROUNDED ratio (the oracle's WHERE clause
    # is also unrounded — rounding first would keep values in
    # [threshold-5e-7, threshold) that the oracle drops); rounding happens
    # only on the output column, for representation-stable hashing.
    raw = (
        F.col("inter").cast("double")
        / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).cast("double")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .where(raw >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(raw, 6).alias("jaccard"),
        )
    )


# -------------------------------------------------------------------------
# MinHash + LSH
# -------------------------------------------------------------------------

# MinHash permutation family: affine maps (a*h + b) mod P over the
# md5-derived 60-bit shingle value, P = 2^31 - 1 (Mersenne prime).
# ONE md5 per (doc, shingle) row + num_hashes cheap integer ops replaces
# the round-1 scheme of num_hashes full md5 passes over seeded strings
# (measured ~2.4x on the sf0.1 bench). Exact in both engines: h < 2^60
# fits BIGINT, h%P < 2^31, a < 2^31 so a*(h%P) < 2^62 never overflows.
MINHASH_P = (1 << 31) - 1
# deterministic odd multipliers / offsets (any fixed 2-universal-ish
# family works; these are arbitrary primes, NOT tunable state)
MINHASH_COEFFS = [
    (1299721, 15485863), (2750159, 32452843), (4256233, 49979687),
    (5800079, 67867967), (7368787, 86028121), (8960453, 104395301),
    (10570841, 122949823), (12195257, 141650939), (13834103, 160481183),
    (15485863, 179424673), (17144507, 198491317), (18815231, 217645177),
]


def _shingle_hash60(col: Column) -> Column:
    """60-bit md5 projection of a shingle (portable: DuckDB computes the
    identical value via try_cast('0x'||substr(md5(x),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 12,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of
    (a_i * (h60(shingle) mod P) + b_i) mod P. One md5 per shingle row,
    one groupBy, num_hashes min-aggregates over bigints."""
    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"num_hashes > {len(MINHASH_COEFFS)} needs more coefficients")
    sh = shingles if shingles is not None else shingle_rows(df, id_col, text_col, n)
    hv = (_shingle_hash60(F.col("shingle")) % MINHASH_P).alias("__hv")
    hashed = sh.select("doc", hv)
    aggs = [
        F.min((F.lit(a) * F.col("__hv") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
    ]
    return hashed.groupBy("doc").agg(*aggs)


def lsh_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The LSH index rows (doc, band, bucket): signature split into
    bands, each band md5-condensed into one bucket key. Factored out of
    minhash_lsh_pairs so a STATIC corpus index can be computed once,
    persisted (bucket/sort by (band, bucket) for pruned probes), and
    probed incrementally by new arrivals (incremental_near_dups)."""
    num_hashes = bands * rows_per_band
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, shingles=shingles)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]))
        .alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("doc", *band_cols)
    return banded.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    shingles: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into `bands` bands of
    `rows_per_band` hashes; docs sharing any full band land in one bucket
    and become a candidate pair. Returns distinct (doc_a, doc_b).

    Scale path: the band-bucket groupBy shuffles (doc, bucket) rows — linear
    in corpus size; collisions (not corpus²) drive the pair fan-out.

    `max_bucket` is the hot-bucket guard the fan-out needs at corpus
    scale: a (band, bucket) with B members emits B(B-1)/2 pairs, so ONE
    degenerate bucket (boilerplate, templated text) can emit more pairs
    than the rest of the corpus combined — a bucket of 1M docs is half
    a trillion pairs no join strategy survives. Buckets larger than the
    cap are dropped whole (the standard production trade: an
    oversubscribed bucket is the least informative — its collision
    probability says 'everything matches everything'; near-dup pairs
    that matter keep colliding in their other, smaller bands). The cap
    changes RECALL, not correctness of what is emitted, and it is
    exactly mirrorable in SQL (a HAVING over the bucket count), so the
    capped face is oracle-certifiable, not a silent approximation.
    None (default) preserves the uncapped semantics of every existing
    caller."""
    melted = lsh_bands(
        df, id_col, text_col, n, bands, rows_per_band, shingles=shingles
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        w = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        melted = melted.withColumn("__bsz", w).where(
            F.col("__bsz") <= max_bucket
        ).drop("__bsz")
    l, r = melted.alias("l"), melted.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )


# persisted frames handed out by lsh_verified_pairs, retained so a
# session has an explicit way to return the bytes (the same lifecycle
# discipline operators/graph.py grew for the PageRank statics). The
# footprint is bounded WITHOUT release at one (shingle, candidate)
# pair per distinct (corpus, params) — CacheManager dedups persists by
# semantic plan — but a long-lived session cycling corpora should call
# release_lsh_feeds() between them.
_LSH_FEEDS: list = []


def release_lsh_feeds() -> int:
    """Unpersist every shingle/candidate feed lsh_verified_pairs has
    persisted this session; returns how many frames were released.
    Results already materialized (collected/counted) stay valid; a
    NOT-yet-executed DataFrame returned by lsh_verified_pairs will
    recompute its feeds from scratch if run after release."""
    n = 0
    seen = set()
    for frame in _LSH_FEEDS:
        key = id(frame._jdf)
        if key not in seen:
            seen.add(key)
            frame.unpersist()
            n += 1
    _LSH_FEEDS.clear()
    return n


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    collapse_identical: bool = True,
    _n_docs: int | None = None,
) -> DataFrame:
    """The production near-dup pipeline: LSH candidate generation followed
    by EXACT Jaccard verification, both fed by ONE cached shingle
    DataFrame (no second shingling pass over the corpus). Returns
    (doc_a, doc_b, jaccard) for candidate pairs meeting the threshold.

    At 100 TB this is the shape that matters: LSH bounds the pair count
    (collision-driven), the verify intersection join is RESTRICTED to
    candidate pairs (not the full shared-shingle fan-out), and the corpus
    is shingled exactly once.

    `collapse_identical` (default on) additionally runs the whole
    LSH+verify over DISTINCT texts only, then expands pairs back to
    members: byte-identical texts have identical shingle sets, hence
    identical signatures, candidacy, and jaccards — so cross-group
    pairs inherit the representative pair's jaccard and every within-
    group pair of a shingle-bearing group (>= n tokens) is a
    jaccard-1.0 candidate by construction. EXACT, and the difference
    between finishing and OOM on duplicate-heavy corpora: the verify
    intersection fan-out is |pairs| x shingles/doc, and true-duplicate
    mass grows pairs quadratically in copies (the sf10 tier's 27M-pair
    corpus OOMed the uncollapsed path; collapsed it runs at
    distinct-text cost plus the output-sized expansion join)."""
    n_distinct = None
    if collapse_identical:
        # adaptive pre-probe: collapsing pays three extra shuffles, all
        # keyed by the FULL text — pure overhead on a corpus where no
        # text occurs twice (the common case outside replicated /
        # crawl-heavy tiers). ONE map-side-combined aggregate over
        # 8-byte hashes decides AND yields both corpus sizes, so
        # neither branch ever pays a separate count job (the collapse
        # branch's reps count in particular would re-run the window
        # pass). A (vanishingly unlikely) xxhash64 collision can only
        # trigger an unnecessary collapse pass, never change results —
        # the collapse itself groups by the full text.
        h = F.xxhash64(F.col(text_col))
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(h).alias("d"),
        ).first()
        _n_docs, n_distinct = stats["n"], stats["d"]
        if _n_docs == n_distinct:
            collapse_identical = False
    if collapse_identical:
        from pyspark.sql import Window

        members = df.select(
            F.col(id_col).alias("__m_id"), F.col(text_col).alias("__m_t")
        ).withColumn("__rep", F.min("__m_id").over(Window.partitionBy("__m_t")))
        reps = members.where(F.col("__m_id") == F.col("__rep")).select(
            F.col("__m_id").alias(id_col), F.col("__m_t").alias(text_col)
        )
        base = lsh_verified_pairs(
            reps, id_col, text_col, n, bands, rows_per_band, threshold,
            collapse_identical=False, _n_docs=n_distinct,
        )
        mem = members.select("__m_id", "__rep")
        cross = (
            base.hint("merge")
            .join(mem.alias("ma"), F.col("doc_a") == F.col("ma.__rep"))
            .join(mem.alias("mb"), F.col("doc_b") == F.col("mb.__rep"))
            .select(
                F.least("ma.__m_id", "mb.__m_id").alias("doc_a"),
                F.greatest("ma.__m_id", "mb.__m_id").alias("doc_b"),
                F.col("jaccard"),
            )
        )
        # within-group pairs exist in the uncollapsed semantics iff the
        # group's text shingles at all (>= n tokens: shorter docs have
        # no signature, hence no candidacy)
        eligible = members.where(
            F.size(tokens(F.col("__m_t"))) >= F.lit(n)
        ).select("__m_id", "__rep")
        within = (
            eligible.alias("wa")
            .join(
                eligible.alias("wb"),
                (F.col("wa.__rep") == F.col("wb.__rep"))
                & (F.col("wa.__m_id") < F.col("wb.__m_id")),
            )
            .select(
                F.col("wa.__m_id").alias("doc_a"),
                F.col("wb.__m_id").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
            )
            .where(F.lit(1.0) >= F.lit(threshold))
        )
        return cross.unionByName(within)
    from pyspark.storagelevel import StorageLevel

    # Storage level for the shared shingle feed is a SCALE decision:
    # default .cache() (MEMORY_AND_DISK) pins cached blocks inside the
    # unified pool's protected storage fraction, and at corpus scale
    # (~50 shingle rows per doc) that squeeze starves the signature
    # hash-aggregation of execution memory — measured live at the 5M-doc
    # unique-corpus tier: AGGREGATE_OUT_OF_MEMORY at 8g while the cache
    # held ~10 GB of shingles. DISK_ONLY keeps the reuse (one shingling
    # pass) without competing with the aggregates that read it.
    n_docs = _n_docs if _n_docs is not None else df.count()
    sh_level = (
        StorageLevel.DISK_ONLY if n_docs > 1_000_000
        else StorageLevel.MEMORY_AND_DISK
    )
    sh = shingle_rows(df, id_col, text_col, n).persist(sh_level)
    candidates = minhash_lsh_pairs(
        df, id_col, text_col, n, bands, rows_per_band, shingles=sh
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # footprint bounded like the PageRank statics: Spark's CacheManager
    # dedups persists by semantic plan, so repeated runs on one corpus
    # reuse a single entry — but nothing else ever returned the bytes.
    # Registered here; `release_lsh_feeds()` is the explicit handle.
    _LSH_FEEDS.extend((sh, candidates))
    # The verify only ever reads shingles of docs that appear in a
    # candidate pair — semi-join the shingle feed down to that set
    # BEFORE the intersection joins, so the verify's shuffle volume is
    # O(collision docs), not O(corpus): on a clean (low-dup) corpus the
    # candidate doc set is a sliver of the corpus, and a corpus where
    # every doc collides is the hot-bucket cap's problem, not this
    # join's. Exact: non-candidate docs contribute no output rows.
    # The pair count is known anyway (candidates are persisted for
    # their two downstream uses), so it doubles as the broadcast
    # decision: a bounded candidate-doc set rides a broadcast hash
    # join; past the bound the semi-join SMJs like everything else.
    n_pairs = candidates.count()
    small = n_pairs <= 2_000_000  # ~32 MB of (long, long) — broadcastable
    cand_docs = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc")
    ).distinct()
    if small:
        cand_docs = F.broadcast(cand_docs)
    sh = sh.join(cand_docs, "doc")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    # Join strategy, decided by the MEASURED pair count (it is known —
    # the persist/count above paid for it), not by estimates: a bounded
    # candidate set broadcasts (the pair frame and the per-doc size
    # frame are both O(n_pairs) rows), killing the shuffle sorts that
    # dominate at small collision mass. Past the bound, merge-join
    # hints pin SMJ: the candidate-pair frame is collision-driven and
    # can reach hundreds of millions of NARROW rows — small compressed,
    # huge deserialized — so an AQE runtime broadcast of it is an OOM,
    # not an optimization (observed at the sf10 tier).
    cand_in = F.broadcast(candidates) if small else candidates.hint("merge")
    inter = (
        cand_in
        .join(sh.alias("a"), F.col("doc_a") == F.col("a.doc"))
        .join(
            sh.alias("b"),
            (F.col("doc_b") == F.col("b.doc"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    if small:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    raw = (
        F.col("inter").cast("double")
        / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).cast("double")
    )
    joined = (
        inter if small else inter.hint("merge")
    )
    return (
        joined
        .join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .where(raw >= threshold)
        .select("doc_a", "doc_b", F.round(raw, 6).alias("jaccard"))
    )


def incremental_near_dups(
    new_docs: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    corpus_bands: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    new_shingles: DataFrame | None = None,
) -> DataFrame:
    """Dedup NEW documents against an EXISTING corpus — the crawl-vs-
    corpus containment check a continuously-fed training pipeline runs
    on every increment. The new side's LSH bands probe the corpus band
    index (one equi-join on (band, bucket)); candidates verify by exact
    Jaccard over the two shingle feeds. Returns (doc, dup_of, jaccard)
    for new-doc/corpus pairs meeting the threshold.

    Scale contract: pass `corpus_bands` / `corpus_shingles` precomputed
    and PERSISTED (bucket/sort the bands by (band, bucket), the shingles
    by doc, via sources.bucketed) — then per-increment cost is
    O(new batch + collisions), never O(corpus), and the corpus is never
    re-shingled. New-vs-new pairs are deliberately NOT examined (run
    lsh_verified_pairs within the increment for those); this operator is
    the asymmetric probe. Streaming face: wrap in foreachBatch — each
    micro-batch is a bounded new_docs frame (same recipe as
    streaming/fulltext_stream.py).

    Cache lifetime: the new side's shingles are read three times (bands,
    verify join, sizes). When `new_shingles` is None they are computed
    and cached HERE and the cache lives until LRU eviction — fine for a
    one-shot call, a leak if called in a loop. Repeated callers (the
    foreachBatch fold, streaming/dedup_stream.py) pass `new_shingles`
    cached by the caller and unpersist it once the batch's result is
    materialized."""
    if corpus is None and (corpus_bands is None or corpus_shingles is None):
        raise ValueError(
            "incremental_near_dups needs either the corpus frame or BOTH "
            "precomputed corpus_bands and corpus_shingles"
        )
    c_sh = (
        corpus_shingles
        if corpus_shingles is not None
        else shingle_rows(corpus, id_col, text_col, n)
    )
    c_bands = (
        corpus_bands
        if corpus_bands is not None
        else lsh_bands(corpus, id_col, text_col, n, bands, rows_per_band, shingles=c_sh)
    )
    n_sh = (
        new_shingles
        if new_shingles is not None
        else shingle_rows(new_docs, id_col, text_col, n).cache()
    )
    n_bands = lsh_bands(
        new_docs, id_col, text_col, n, bands, rows_per_band, shingles=n_sh
    )
    cand = (
        n_bands.alias("l")
        .join(
            c_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket")),
        )
        .select(F.col("l.doc").alias("__nd"), F.col("r.doc").alias("__cd"))
        .where(F.col("__nd") != F.col("__cd"))
        .distinct()
    )
    inter = (
        cand
        .join(n_sh.alias("a"), F.col("__nd") == F.col("a.doc"))
        .join(
            c_sh.alias("b"),
            (F.col("__cd") == F.col("b.doc"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("__nd", "__cd")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes_n = n_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    sizes_c = c_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    raw = (
        F.col("inter").cast("double")
        / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).cast("double")
    )
    return (
        inter.join(sizes_n.alias("sa"), F.col("__nd") == F.col("sa.doc"))
        .join(sizes_c.alias("sb"), F.col("__cd") == F.col("sb.doc"))
        .where(raw >= threshold)
        .select(
            F.col("__nd").alias("doc"),
            F.col("__cd").alias("dup_of"),
            F.round(raw, 6).alias("jaccard"),
        )
    )


# -------------------------------------------------------------------------
# SimHash
# -------------------------------------------------------------------------

def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over distinct tokens: bit j of the fingerprint is the
    majority vote of bit j of each token's md5-derived 16-bit hash.
    Portable bit extraction: hex nibble -> strpos('0123456789abcdef', ch)-1.
    Returns (id, simhash int)."""
    tok = (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"))
    )
    h4 = F.substring(F.md5(F.col("t")), 1, 4)  # 16 bits = 4 hex nibbles
    nib = [F.conv(F.substring(h4, i + 1, 1), 16, 10).cast("int") for i in range(4)]
    bit_cols = []
    for j in range(16):
        nibble = nib[j // 4]
        bit = F.shiftright(nibble, 3 - (j % 4)) % 2  # MSB-first within nibble
        bit_cols.append(F.when(bit == 1, 1).otherwise(-1).alias(f"b{j}"))
    votes = tok.select("doc", *bit_cols).groupBy("doc").agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(16)]
    )
    fp = F.lit(0)
    for j in range(16):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(1 << (15 - j))).otherwise(F.lit(0))
    return votes.select("doc", fp.cast("int").alias("simhash"))


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-bit ints (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


# -------------------------------------------------------------------------
# duplicate clustering (connected components)
# -------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components over an undirected pair list -> (node, label),
    label = MIN node id of the component (the canonical representative).

    Scale design: per round, each node takes the min of (its label, its
    neighbors' labels, its label's label). The last term is POINTER
    JUMPING — label chains halve every round, so convergence is
    O(log diameter) rounds, not O(diameter) like plain one-hop
    min-propagation (a path graph of 1M near-dup docs converges in ~20
    rounds instead of 1M). Each round is two shuffle joins + a groupBy,
    all on (node, label) pairs — linear in edges, no component is ever
    materialized on one executor. localCheckpoint cuts lineage per round
    (pointed at a checkpoint dir on a real cluster). The seed settles and
    every per-round label frame goes through bcast (operators/rounds.py)."""
    edges = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = (
        edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # ONE action initializes everything: settling lbl materializes both
    # lazy checkpoints (lbl computes through sym) and sizes every
    # round's broadcasts; the label frame stays |V(pairs)|-sized
    lbl, n_lbl = settle(
        sym.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("m")).alias("label"),
        )
    )
    for _ in range(max_iters):
        nbr = (
            sym.alias("e")
            .join(bcast(lbl.alias("l"), n_lbl), F.col("e.v") == F.col("l.node"))
            .groupBy(F.col("e.u").alias("node"))
            .agg(F.min("l.label").alias("nmin"))
        )
        ptr = (
            lbl.alias("x")
            .join(
                bcast(lbl.alias("y"), n_lbl),
                F.col("x.label") == F.col("y.node"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.col("x.label").alias("label"),
                F.col("y.label").alias("pmin"),
            )
        )
        # the update can only LOWER a label (least() includes the old
        # one), so "changed" is new < old, computed inline; counting the
        # changed rows materializes the round's lazy checkpoint and
        # answers convergence in ONE action per round
        upd = F.least(
            F.col("label"),
            F.coalesce(F.col("pmin"), F.col("label")),
            F.coalesce(F.col("nmin"), F.col("label")),
        )
        new = (
            ptr.join(bcast(nbr, n_lbl), "node", "left")
            .select(
                "node",
                upd.alias("new_label"),
                (upd < F.col("label")).alias("chg"),
            )
            .select(
                "node", F.col("new_label").alias("label"), "chg"
            )
            .localCheckpoint(eager=False)
        )
        n_changed = new.where(F.col("chg")).count()
        lbl = new.drop("chg")
        if not n_changed:
            return lbl
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(pointer jumping needs ~log2(diameter); raise max_iters)"
    )


def dedup_clusters(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup pairs into duplicate clusters over the full corpus:
    (doc, cluster, is_canonical). Docs in no pair are their own singleton
    cluster; the canonical survivor of each cluster is its min id — the
    keep-one-representative step that turns pairwise similarity into an
    actual dedup decision."""
    cc = connected_components(pairs)
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(cc, F.col("doc") == F.col("node"), "left")
        .select(
            "doc",
            F.coalesce(F.col("label"), F.col("doc")).alias("cluster"),
            (F.coalesce(F.col("label"), F.col("doc")) == F.col("doc")).alias(
                "is_canonical"
            ),
        )
    )


# -------------------------------------------------------------------------
# Bloom pre-filtered novelty (corpus-membership at 100 TB)
# -------------------------------------------------------------------------

def bloom_positions(key: Column, m_bits: int, k: int) -> Column:
    """The k bit positions of a key: pmod(xxhash64(key, seed_i), m) —
    computed JVM-side so the build and probe sides derive IDENTICAL
    positions (no Python hash involved anywhere)."""
    return F.array(
        *[F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)]
    )


def build_bloom(corpus: DataFrame, key: Column, m_bits: int, k: int) -> bytes:
    """Build the corpus membership Bloom filter as an m_bits/8-byte
    bitmap. The set-bit positions frame is DISTINCT and therefore
    bounded by m_bits rows no matter how large the corpus is — the
    collect is capped by the filter size you chose, never by the data
    (1 MiB bitmap == at most ~8.4M position rows); that bounded-artifact
    contract is the same one IVF centroids and BPE merge tables use."""
    rows = (
        corpus.select(F.explode(bloom_positions(key, m_bits, k)).alias("pos"))
        .distinct()
        .collect()
    )
    bits = bytearray(m_bits // 8 + 1)
    for r in rows:
        p = r["pos"]
        bits[p >> 3] |= 1 << (p & 7)
    return bytes(bits)


def bloom_novelty_filter(
    arrivals: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Arrivals whose normalized content is NOT in the corpus —
    (id, content_hash) — with a Bloom pre-filter doing the heavy lifting:

    1. the corpus builds a bounded bitmap ONCE (see build_bloom);
    2. every arrival tests its k bits via mapInPandas — the bitmap rides
       the serialized closure to each executor once, the test is numpy
       bit math over Arrow batches, and 'no' answers are DEFINITE
       (Bloom filters have no false negatives), so those rows are done
       without ever joining;
    3. only the 'maybe' survivors (true dups + the false-positive rate
       you sized m/k for) take the exact left_anti verify against the
       corpus hash set.

    At scale this turns an arrivals-vs-corpus anti-join (shuffle both
    sides) into a map-side test plus an anti-join of a small candidate
    set — the same probe-an-index-not-the-corpus shape as
    incremental_near_dups. The final result is EXACT (false positives
    are removed by the verify), which is what lets DuckDB certify it
    with a plain anti-join oracle."""
    import numpy as np

    h = F.md5(normalize_for_fingerprint(F.col(text_col)))
    arr = arrivals.select(
        F.col(id_col).alias("id"),
        h.alias("content_hash"),
        bloom_positions(h, m_bits, k).alias("pos"),
    )
    bloom = np.frombuffer(
        build_bloom(corpus, F.md5(normalize_for_fingerprint(F.col(text_col))), m_bits, k),
        dtype=np.uint8,
    )

    def probe(batches):
        for b in batches:
            if not len(b):
                continue
            pos = np.stack(b["pos"].to_numpy())  # (rows, k)
            hit = (bloom[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            b = b.drop(columns=["pos"])
            b["maybe"] = hit.all(axis=1)
            yield b

    probed = arr.mapInPandas(probe, schema="id bigint, content_hash string, maybe boolean")
    definite_new = probed.where(~F.col("maybe")).select("id", "content_hash")
    corpus_hashes = corpus.select(
        F.md5(normalize_for_fingerprint(F.col(text_col))).alias("content_hash")
    ).distinct()
    verified_new = (
        probed.where(F.col("maybe"))
        .select("id", "content_hash")
        .join(corpus_hashes, "content_hash", "left_anti")
    )
    return definite_new.unionByName(verified_new.select("id", "content_hash"))


# -------------------------------------------------------------------------
# exact-substring duplication coverage (ExactSubstr-lite)
# -------------------------------------------------------------------------

def token_window_hashes(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """Every length-`window` token span of every document as
    (doc, start, wh): start is the 1-based token position, wh the md5 of
    the space-joined span. Built entirely from array expressions —
    sequence/transform/slice — then ONE posexplode-equivalent unnest;
    no UDFs. Documents shorter than `window` contribute no spans
    (guarded — Spark's sequence(start > stop) would count BACKWARD)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.when(
        n >= window, F.sequence(F.lit(1), n - window + 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("start"),
            F.md5(F.array_join(F.slice(toks, i, window), " ")).alias("wh"),
        ),
    )
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(spans).alias("s"))
        .select("doc", F.col("s.start").alias("start"), F.col("s.wh").alias("wh"))
    )


def exact_substring_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Per-document CROSS-DOC duplicated-span coverage — the decision
    signal of suffix-array ExactSubstr dedup ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022), re-expressed
    relationally: a length-`window` token span is DUPLICATED iff its
    hash occurs in more than one document; a token position is COVERED
    iff some duplicated span overlaps it; coverage = covered / total.

    Relational shape instead of a suffix array: window hashes (linear
    in token count), one groupBy(wh) for cross-doc counts, a join back
    restricted to duplicated hashes, and a distinct over covered
    positions (fan-out bounded by window × duplicated spans). Every
    step is a linear shuffle — no pairwise comparison, no cartesian;
    at 100 TB this is the same three-shuffle budget as MinHash-LSH.

    Returns (doc, n_tokens, n_dup_positions, dup_frac) for EVERY
    document (0.0 where nothing is duplicated)."""
    wins = token_window_hashes(df, id_col, text_col, window)
    dup_hashes = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc").alias("nd"))
        .where(F.col("nd") > 1)
        .select("wh")
    )
    covered = (
        wins.join(dup_hashes, "wh")
        .select(
            "doc",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + window - 1)
            ).alias("pos"),
        )
        .distinct()
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_positions"))
    )
    base = df.select(
        F.col(id_col).alias("doc"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    return (
        base.join(covered, "doc", "left")
        .select(
            "doc",
            "n_tokens",
            F.coalesce("n_dup_positions", F.lit(0)).cast("bigint").alias(
                "n_dup_positions"
            ),
            (
                F.coalesce("n_dup_positions", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            ).alias("dup_frac"),
        )
    )
