"""Fixed-iteration integer PageRank — the graph-centrality member of
the iterative-algorithm family (the duplicate-cluster operator in
dedup.py runs label propagation; datalog's recursive rules run
semi-naive fixpoints; this is the weighted-propagation variant).

Engine-portable twist, same policy as RRF/BM25: ranks are BIGINT
multiples of 1e-12 (SCALE DIV n at init) and every propagation step is
integer arithmetic —

    contrib(v) = sum over in-edges (u,v) of  rank(u) DIV outdeg(u)
    rank'(v)   = (15 * (SCALE DIV n)) DIV 100 + (85 * contrib(v)) DIV 100

so T iterations reproduce bit-for-bit in any engine (float PageRank
sums differ in the last ulp by add order). Quantization loses < 1e-12
per term — ranking-irrelevant at any realistic fan-in.

Scale shape: per iteration ONE shuffle keyed on the destination node
(the contribution groupBy); the rank frame is node-keyed so AQE reuses
the same partitioning across the join and the aggregate. Edges and
out-degrees compute once and persist across rounds (the
delta-independent prefix, same trick as datalog's semi-naive cache),
and the rank frame localCheckpoints every 8th round — plan depth stays
bounded at any iteration count, while short runs keep one fused plan
(a per-round cut, eager OR lazy, measured ~2.2x slower at iters=3 on
sf0.1: segmentation costs cross-round exchange reuse and adds an RDD
boundary per round — the cadence is the measured middle ground; the
datalog fixpoint checkpoints per round because its per-round DELTA
frames are also its loop-termination reads). The persisted static
frames stay cached until the caller's action evaluates the returned
plan — lazy evaluation outlives this function, so unpersisting here
would drop the cache before it is read — so they live in an explicit
size-one cache (_PR_STATICS) with release_pagerank_statics() as the
documented off switch. Dangling nodes: a symmetric edge set has none;
with directed input the default drops their leaked mass (standard
simplification) and dangling="redistribute" teleports it — one scalar
aggregation per round, riding a broadcast cross join so the round
stays one lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import budget
from .rounds import bcast, edge_level, edge_prefix, settle

PR_SCALE = 1_000_000_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    dangling: str = "drop",
) -> DataFrame:
    """Rank every node of the directed edge list after `iters` integer
    PageRank rounds. Returns (node BIGINT, rank BIGINT). The caller
    dedups edges; parallel edges would double-count contributions.

    `dangling` picks the sink-mass policy. "drop" (default — exact for
    the symmetric gates, where no sink exists) lets mass parked on
    out-degree-0 nodes leak, the documented simplification. On a
    directed graph pass "redistribute": each round adds ONE scalar
    aggregation over the rank frame — the danging nodes' total mass,
    integer-split as dm DIV n and fed into every node's update
    (rank' = (15*base) DIV 100 + (85*(contrib + dm DIV n)) DIV 100),
    the standard teleport treatment. The scalar rides a broadcast
    cross join, so the round stays ONE lazy plan — no per-round driver
    action."""
    rank, _ = _pagerank_with_handles(edges, iters, src_col, dst_col, dangling)
    return rank


# The delta-independent static frames (edges/out-degrees/nodes), cached
# across CALLS per distinct edge plan — size-ONE by design: a new edge
# set evicts and unpersists the previous one, so the footprint is
# bounded at three frames regardless of how many graphs a session
# touches. Repeated runs on one graph amortize the static build, and
# release_pagerank_statics() drops everything on demand.
_PR_STATICS: dict = {}


def release_pagerank_statics() -> None:
    """Unpersist every cached PageRank static frame. Call when the
    graph workload is done and the executor memory should go back."""
    for frames in _PR_STATICS.values():
        for f in frames[:3]:
            f.unpersist()
    _PR_STATICS.clear()


def _pagerank_statics(e: DataFrame):
    """(ew, outd, nodes, n_nodes), persisted and materialized — served
    from the size-one cache when the edge plan is semantically the one
    already cached. `ew` is the edge list PRE-JOINED with the source
    out-degree, (s, t, od): the out-degree join is delta-independent,
    so folding it into the cached prefix removes one |E|-sized join
    from EVERY PageRank round: the rank-side join is the only per-round
    join."""
    key = e._jdf.queryExecution().analyzed().semanticHash()
    if key in _PR_STATICS:
        return _PR_STATICS[key]
    release_pagerank_statics()
    # explode(array(s,t)) instead of a union of two projections: the
    # union reads the edge frame TWICE (two scans of the same blocks /
    # two reduce-side passes over the same exchange); the explode is
    # one scan + a Generate — measured 0.75x on the same aggregation at
    # sf0.1, identical results (guide §2.4: remove duplicate passes)
    nodes = e.select(
        F.explode(F.array("s", "t")).alias("v")
    ).distinct()
    outd = e.groupBy(F.col("s").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("od")
    )
    level = edge_level(e)
    e = e.persist(level)
    e.count()
    outd = outd.persist(level)
    nodes = nodes.persist(level)
    n_nodes = nodes.count()
    outd.count()
    ew = e.join(outd.select(F.col("v").alias("s"), "od"), "s").select(
        "s", "t", "od"
    ).persist(level)
    ew.count()
    # e itself is not read by the per-round plan anymore (ew carries
    # the edges); release its blocks now that ew is materialized
    e.unpersist()
    _PR_STATICS[key] = (ew, outd, nodes, n_nodes)
    return _PR_STATICS[key]


def _pagerank_with_handles(
    edges: DataFrame,
    iters: int,
    src_col: str,
    dst_col: str,
    dangling: str,
) -> tuple[DataFrame, list[DataFrame]]:
    """pagerank core, returning (rank frame, persisted static frames).
    The statics must stay cached until the rank plan EVALUATES — lazy
    evaluation outlives this function — so they live in the explicit
    size-one _PR_STATICS cache: repeated runs on the same graph reuse
    them (the delta-independent prefix, same trick as datalog's
    semi-naive cache), a new graph evicts them, and
    release_pagerank_statics() drops everything on demand."""
    if dangling not in ("drop", "redistribute"):
        raise ValueError(
            f"dangling must be 'drop' or 'redistribute', got {dangling!r}"
        )
    e = edges.select(
        F.col(src_col).cast("long").alias("s"),
        F.col(dst_col).cast("long").alias("t"),
    )
    ew, outd, nodes, n_nodes = _pagerank_statics(e)
    base = PR_SCALE // n_nodes
    rank = nodes.select("v", F.lit(base).cast("long").alias("r"))
    # rank and contrib are |V|-sized: bcast (operators/rounds.py)
    for it in range(iters):
        rk = bcast(rank, n_nodes)
        contrib = (
            ew.join(rk, ew["s"] == rk["v"])
            .select("t", F.expr("r DIV od").alias("c"))
            .groupBy("t")
            .agg(F.sum("c").cast("long").alias("c"))
        )
        cb = bcast(contrib, n_nodes)
        joined = nodes.join(cb, nodes["v"] == cb["t"], "left")
        if dangling == "redistribute":
            dm = (
                rank.join(outd, rank["v"] == outd["v"], "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
            )
            joined = joined.crossJoin(F.broadcast(dm))
            share = f"dm DIV {n_nodes}L"
        else:
            share = "0L"
        rank = joined.select(
            "v",
            F.expr(
                f"CAST((15 * {base}L) DIV 100 + "
                f"(85 * (COALESCE(c, 0L) + {share})) DIV 100 AS BIGINT)"
            ).alias("r"),
        )
        # lineage cut on a CADENCE, not per round: a per-round cut
        # (eager or lazy) measured ~2.2x slower at iters=3 on sf0.1 —
        # segmenting the plan every round costs Catalyst the cross-round
        # exchange reuse and adds an RDD conversion boundary per round.
        # Every 8th round truncates to a LogicalRDD, so plan depth is
        # bounded at any iteration count while short runs (the common
        # iters=3 gate) keep the single fused plan
        if (it + 1) % 8 == 0 and it != iters - 1:
            rank = rank.localCheckpoint(eager=False)
    return (
        rank.select(
            F.col("v").cast("long").alias("node"),
            F.col("r").cast("long").alias("rank"),
        ),
        [ew, outd, nodes],
    )


def pagerank_topk(
    edges: DataFrame,
    k: int = 20,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    dangling: str = "drop",
) -> DataFrame:
    """Top-k by (rank desc, node asc) — TakeOrdered, no global sort.

    Cache hygiene: the k result rows materialize eagerly (a k-row
    collect — no checkpoint RDD left behind), so the returned frame
    never references the statics cache: release_pagerank_statics() is
    safe at ANY point after this returns, and repeated runs on the same
    graph reuse the cached prefix (asserted both ways in
    test_pagerank_topk_releases_statics_on_demand)."""
    rank, _ = _pagerank_with_handles(
        edges, iters, src_col, dst_col, dangling
    )
    rows = (
        rank.orderBy(F.desc("rank"), F.asc("node")).limit(k).collect()
    )
    from .localrel import local_df

    return local_df(
        edges.sparkSession, rows, "node bigint, rank bigint"
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Count triangles of an undirected graph given as CANONICAL edges
    (src < dst, deduped — the caller's contract). Returns one row
    (n_triangles BIGINT).

    Degree-ordered orientation (the skew-proof formulation): every edge
    points from its lower-(degree, id) endpoint to the higher, so each
    triangle is counted exactly once via the edge between its two
    LOWEST vertices in that total order, and per-vertex out-degree is
    capped near sqrt(2|E|) — a hub of degree d points only at its
    >= d-degree neighbors, of which there can be at most 2|E|/d.
    Total intersection work is O(|E|^1.5) on ANY degree distribution
    (Schank & Wagner's forward algorithm), where id-canonical
    orientation is Theta(d^2) at a low-id hub.

    The counting core is the EDGE-ITERATOR, not the wedge join: the
    oriented out-neighbor lists group once (one shuffle of |E| rows,
    per-list size bounded by the sqrt(2|E|) out-degree cap), each
    oriented edge (u, w) joins both endpoints' lists, and the triangle
    mass is sum(|N_out(u) ∩ N_out(w)|) via `array_intersect` inside
    whole-stage codegen. The wedge mass (sum of C(outdeg, 2) — 41M at
    sf0.1 against 1.2M edges) therefore never materializes through a
    shuffle; measured 8.6s -> 4.3s at sf0.1 vs the wedge-join plan.

    Orientation and plan shape are invisible in the count — the gate's
    DuckDB oracle enumerates id-sorted triangles and must hash-match,
    the same certification discipline as `skew_salted_join` (salting
    invisible in results)."""
    e = edges.select(
        F.col(src_col).cast("long").alias("s"),
        F.col(dst_col).cast("long").alias("t"),
    )
    # the caller's edge derivation is often a self-join + distinct —
    # cache it so the degree pass and the orientation join don't each
    # recompute the upstream plan. Every cached frame here is |E|-sized,
    # so all of them take the edge level.
    level = edge_level(e)
    e = e.persist(level)
    n_e = e.count()
    # explode(array(s,t)) instead of union-of-projections: one scan of
    # the persisted edge blocks instead of two (measured 0.75x on this
    # aggregation at sf0.1, identical counts — guide §2.4)
    deg = (
        e.select(F.explode(F.array("s", "t")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    ).persist(level)
    # both degree lookups go through bcast (operators/rounds.py); deg
    # persists so the two broadcast builds don't each recompute the
    # aggregation
    n_v = deg.count()
    deg_s = bcast(deg.select(F.col("v").alias("s"), F.col("d").alias("ds")), n_v)
    deg_t = bcast(deg.select(F.col("v").alias("t"), F.col("d").alias("dt")), n_v)
    et = e.join(deg_s, "s").join(deg_t, "t")
    # s-first iff (deg, id) of s sorts below t's; input has s < t so the
    # equal-degree tie keeps the canonical direction
    s_first = (F.col("ds") < F.col("dt")) | (
        (F.col("ds") == F.col("dt")) & (F.col("s") < F.col("t"))
    )
    oriented = et.select(
        F.when(s_first, F.col("s")).otherwise(F.col("t")).alias("u"),
        F.when(s_first, F.col("t")).otherwise(F.col("s")).alias("w"),
    ).persist(level)
    # orientation is a BIJECTION on the (distinct) edge set, so
    # n_edges == the already-measured e.count() — no separate count
    # job; oriented's blocks materialize inside adj.count() below
    n_edges = n_e
    adj = None
    try:
        # out-neighbor lists: dedup-free by construction (edges are
        # distinct and orientation is injective), size-capped by the
        # orientation's sqrt(2|E|) out-degree bound
        adj = oriented.groupBy("u").agg(
            F.collect_list("w").alias("nbrs")
        ).persist(level)
        n_src = adj.count()
        # e and deg fed the orientation join, which adj.count() has now
        # materialized through oriented's persist — release both here
        e.unpersist()
        deg.unpersist()
        # Bounded-spill batching: the second intersection join sorts
        # rows that already CARRY the first adjacency array, so its
        # spill is ~|E| x avg_deg x 16B (100+ GB at a 120M-edge mass).
        # The edges therefore process in K hash-of-w batches, each
        # joined against the persisted adjacency: identical count (hash
        # partitioning is exhaustive and disjoint), spill bounded by
        # est/K, and K=1 keeps the single-pass plan at small mass.
        # Batch partials are scalar counts — the driver loop
        # accumulates longs, never rows.
        avg_deg = n_edges / max(n_src, 1)
        est_bytes = int(n_edges * avg_deg * 16 * 2)
        k_batches = min(64, max(1, -(-est_bytes // budget.TRIANGLE_SPILL_BYTES)))
        au = adj.select(F.col("u").alias("ju"), F.col("nbrs").alias("nu"))
        aw = adj.select(F.col("u").alias("jw"), F.col("nbrs").alias("nw"))
        # broadcast the adjacency lists under their own price: the
        # count job becomes ONE streamed pass over the oriented set with
        # zero exchanges. K > 1 batches only happen at a mass far past
        # any broadcastable size.
        bcast_adj = k_batches == 1 and budget.adjacency_broadcasts(
            budget.heap_bytes(edges.sparkSession), n_edges, n_src
        )
        if bcast_adj:
            au, aw = F.broadcast(au), F.broadcast(aw)
        total = 0
        seen_any = False
        for i in range(k_batches):
            o_i = (
                oriented.where(F.pmod(F.hash("w"), F.lit(k_batches)) == i)
                if k_batches > 1 else oriented
            )
            aw_i = (
                aw.where(F.pmod(F.hash("jw"), F.lit(k_batches)) == i)
                if k_batches > 1 else aw
            )
            # a w with no out-list contributes 0 — the inner join
            # dropping the row IS the zero
            j = (
                o_i.join(au, o_i["u"] == au["ju"])
                .join(aw_i, o_i["w"] == aw_i["jw"])
            )
            n_i = (
                j.select(F.size(F.array_intersect("nu", "nw")).alias("k"))
                .agg(F.sum("k").cast("long").alias("n"))
                .collect()[0]["n"]
            )
            if n_i is not None:
                total += int(n_i)
                seen_any = True
        n = total if seen_any else None
    finally:
        # unpersist is idempotent — e/deg release early on the happy
        # path (right after adj.count() materializes the chain) and
        # here on any failure before that point
        e.unpersist()
        deg.unpersist()
        oriented.unpersist()
        # adj is bound inside the try: a failure in the groupBy
        # construction itself must not turn into a NameError here
        # masking the original exception
        if adj is not None:
            adj.unpersist()
    spark = edges.sparkSession
    from .localrel import local_df

    # SUM over an empty join (every sink vertex list-less) is NULL = 0
    return local_df(
        spark, [(int(n) if n is not None else 0,)], "n_triangles bigint"
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS hop distance — the reachability member of the
    iterative family next to PageRank (weighted propagation) and the
    pointer-jumping duplicate clusters: every node reachable from the
    seed set within `max_hops` directed edges, labeled with its MINIMUM
    hop count. Returns (node BIGINT, hop BIGINT).

    Semi-naive frontier expansion (the same delta discipline as the
    datalog recursive fixpoint, plans/datalog.py): per round the
    FRONTIER joins the edge list on `src` — work is O(frontier-incident
    edges), never O(all paths) — and a left-anti join against the
    visited set keeps first reach only, which IS the minimum hop since
    rounds advance in hop order. Each hop settles its frontier
    (operators/rounds.py): the termination probe reads it anyway, so
    the cut is free and the plan stays flat at any depth, where
    PageRank, which reads nothing per round, cuts on a cadence.
    Frontiers empty out early on bounded-diameter graphs; the loop
    stops at the first empty frontier.

    The caller dedups edges; seeds outside the edge set are still
    reported at hop 0 (they are reachable from themselves)."""
    # edge_prefix / settle / bcast: operators/rounds.py. Each hop runs
    # one action (its settle); the visited union's lazy cut materializes
    # inside the next hop's.
    e = edge_prefix(edges.select(
        F.col(src_col).cast("bigint").alias("s"),
        F.col(dst_col).cast("bigint").alias("t"),
    ))
    seed_col = sources.columns[0]
    visited, n_visited = settle(
        sources.select(F.col(seed_col).cast("bigint").alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("bigint"))
    )
    frontier, n_frontier = visited, n_visited
    for h in range(1, max_hops + 1):
        fr = bcast(frontier, n_frontier)
        reached = (
            fr.join(e, fr["node"] == e["s"])
            .select(F.col("t").alias("node"))
            .distinct()
        )
        frontier, n_frontier = settle(
            reached.join(bcast(visited, n_visited), "node", "left_anti")
            .withColumn("hop", F.lit(h).cast("bigint"))
        )
        if not n_frontier:
            break
        visited = visited.unionByName(frontier).localCheckpoint(eager=False)
        n_visited += n_frontier
    return visited


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous mode-label propagation (community detection) — the
    label-spreading member of the iterative family. Labels initialize
    to the node id; each round EVERY node simultaneously adopts the most
    frequent label among its in-neighbors (ties break to the SMALLEST
    label; a node with no in-edges keeps its label). Fixed rounds,
    all-integer, fully deterministic — so an oracle unrolling the same
    rounds reproduces every label bit-for-bit (the same certification
    posture as integer PageRank; float-free by construction).

    Distinct from the pointer-jumping connected components in dedup.py:
    min-label CC converges to one label per component regardless of
    structure, while the MODE rule finds dense neighborhoods inside a
    component. Pass a symmetric edge list for the undirected semantics.

    Scale shape: ONE shuffle per round. mode(label, deterministic=True)
    is the built-in count-map aggregate: ObjectHashAggregate builds a
    label->count map per destination node map-side and merges the maps
    across a single Exchange on the node. deterministic=True breaks ties
    to the smallest label (pinned with adversarial ties in
    test_clustering_graph). The edge frame is the delta-independent
    prefix (edge_prefix, operators/rounds.py). Returns (node BIGINT,
    label BIGINT)."""
    e = edge_prefix(edges.select(
        F.col(src_col).cast("bigint").alias("s"),
        F.col(dst_col).cast("bigint").alias("t"),
    ))
    # explode(array(s,t)) instead of union-of-projections: one scan of
    # the checkpointed edge blocks instead of two
    nodes = e.select(
        F.explode(F.array("s", "t")).alias("node")
    ).distinct()
    # round 1 reads the initial label frame twice (the broadcast build
    # and the update join's left side); settling it computes the |V|
    # distinct once instead of per consumer
    labels, n_nodes = settle(nodes.withColumn("label", F.col("node")))
    for _ in range(iters):
        lab = bcast(labels, n_nodes)
        best = (
            e.join(lab, e["s"] == lab["node"])
            .groupBy(F.col("t").alias("node"))
            .agg(F.mode("label", True).alias("new_label"))
        )
        labels = (
            labels.join(bcast(best, n_nodes), "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            # rounds run no action (fixed iters, no termination probe):
            # the lazy cut bounds plan depth and materializes inside the
            # next round's broadcast build or the caller's action
            .localCheckpoint(eager=False)
        )
    return labels


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Bounded-round single/multi-source shortest paths (Bellman-Ford)
    over an integer-weighted edge list: after `rounds` relaxations every
    node reachable within that many hops carries the MINIMUM path weight
    over all paths of <= `rounds` edges. Returns (node BIGINT, dist
    BIGINT). The weighted sibling of bfs_hops — min-PLUS instead of
    first-reach, so a cheap 2-hop path correctly beats an expensive
    1-hop edge (pinned in tests); all-integer, so an oracle unrolling
    the same rounds matches bit-for-bit.

    Scale shape: per round one relax join (dist frontier against the
    checkpointed edge prefix) and one min aggregation keyed on the
    node — the textbook distributed Bellman-Ford step. Rounds are FIXED
    (the oracle-matched contract); distances only ever decrease, so a
    redelivered round is a no-op."""
    e = edge_prefix(edges.select(
        F.col(src_col).cast("bigint").alias("s"),
        F.col(dst_col).cast("bigint").alias("t"),
        F.col(weight_col).cast("bigint").alias("w"),
    ))
    seed_col = sources.columns[0]
    # edge_prefix / settle / bcast: operators/rounds.py
    dist, n_dist = settle(
        sources.select(F.col(seed_col).cast("bigint").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
    )
    for _ in range(rounds):
        db = bcast(dist, n_dist)
        relaxed = (
            db.join(e, db["node"] == e["s"])
            .select(F.col("t").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist, n_dist = settle(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    return dist
