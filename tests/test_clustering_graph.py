"""Unit tests for the deterministic Lloyd k-means
(operators/clustering.py) and integer PageRank (operators/graph.py) —
the cross-engine-certified iterative loops (their sf0.01 gates
`embedding_kmeans_assign` / `graph_pagerank_topk` hash-match unrolled
DuckDB CTEs; these tests pin the semantics on hand-checkable inputs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mbrainz_importer_spark.operators.clustering import kmeans_fit_assign
from mbrainz_importer_spark.operators.graph import PR_SCALE, pagerank


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_kmeans_separates_obvious_clusters(spark):
    rows = (
        [(i, [0.0 + i * 0.01, 0.0]) for i in range(5)]
        + [(10 + i, [10.0 + i * 0.01, 10.0]) for i in range(5)]
    )
    out = kmeans_fit_assign(_vecs(spark, rows), k=2, iters=2).collect()
    by_id = {r["vec_id"]: r["cluster"] for r in out}
    low = {by_id[i] for i in range(5)}
    high = {by_id[10 + i] for i in range(5)}
    assert len(low) == 1 and len(high) == 1 and low != high


def test_kmeans_deterministic(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(30)]
    a = sorted(map(tuple, kmeans_fit_assign(_vecs(spark, rows)).collect()))
    b = sorted(map(tuple, kmeans_fit_assign(_vecs(spark, rows)).collect()))
    assert a == b


def test_kmeans_empty_cell_keeps_centroid(spark):
    # init takes the 3 smallest ids; vectors 0/1 coincide, so one seed
    # centroid immediately loses every member — the update must keep it
    # rather than crash or emit a ragged centroid list
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.0, 0.0]),
        (2, [5.0, 5.0]),
        (3, [5.1, 5.0]),
        (4, [0.1, 0.0]),
    ]
    out = kmeans_fit_assign(_vecs(spark, rows), k=3, iters=2).collect()
    assert len(out) == 5
    clusters = {r["cluster"] for r in out}
    assert clusters.issubset({0, 1, 2})


def test_kmeans_empty_input_raises(spark):
    with pytest.raises(ValueError):
        kmeans_fit_assign(
            _vecs(spark, []).where(F.lit(False)), k=2, iters=1
        )


def test_kmeans_assignment_is_shuffle_free(spark):
    """The per-round assignment is a literal-centroid projection: the
    returned frame's plan must contain no Exchange — the corpus never
    shuffles during k-means, only the bounded (cell, pos) update
    aggregation does (and that runs inside the fit, not here)."""
    rows = [(i, [float(i), 0.0]) for i in range(10)]
    out = kmeans_fit_assign(_vecs(spark, rows), k=2, iters=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_star_hand_computed(spark):
    # symmetric star a(1)-b(2), a(1)-c(3): one integer round by hand
    pairs = [(1, 2), (2, 1), (1, 3), (3, 1)]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, pairs), iters=1).collect()
    }
    base = PR_SCALE // 3
    teleport = (15 * base) // 100
    hub = teleport + (85 * (base + base)) // 100
    leaf = teleport + (85 * (base // 2)) // 100
    assert out == {1: hub, 2: leaf, 3: leaf}


def test_pagerank_regular_graph_stays_uniform(spark):
    # a symmetric cycle is 2-regular: every node keeps the same rank
    n = 6
    pairs = []
    for i in range(n):
        j = (i + 1) % n
        pairs += [(i, j), (j, i)]
    out = pagerank(_edges(spark, pairs), iters=3).collect()
    ranks = {r["rank"] for r in out}
    assert len(out) == n and len(ranks) == 1


def test_pagerank_mass_bounded(spark):
    # integer truncation only loses mass: total rank never exceeds SCALE
    pairs = [(i, (i * 2 + 1) % 9) for i in range(9)]
    sym = pairs + [(b, a) for a, b in pairs]
    out = pagerank(_edges(spark, sym).distinct(), iters=3).collect()
    assert sum(r["rank"] for r in out) <= PR_SCALE


def test_pagerank_more_connected_node_outranks(spark):
    # node 1 has three neighbors, node 5 one: 1 must outrank 5
    pairs = [(1, 2), (1, 3), (1, 4), (4, 5)]
    sym = pairs + [(b, a) for a, b in pairs]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, sym), iters=3).collect()
    }
    assert out[1] > out[5]


def test_triangle_count_hand_graphs(spark):
    from mbrainz_importer_spark.operators.graph import triangle_count

    def count(pairs):
        e = _edges(spark, pairs)
        return triangle_count(e).collect()[0]["n_triangles"]

    # K4 in canonical orientation: C(4,3) = 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert count(k4) == 4
    # a 4-cycle has none
    assert count([(0, 1), (1, 2), (2, 3), (0, 3)]) == 0
    # one triangle plus a pendant edge
    assert count([(0, 1), (0, 2), (1, 2), (2, 3)]) == 1
    # a single edge: the intersect join is EMPTY (sum-NULL edge case)
    assert count([(0, 1)]) == 0


def test_triangle_orientations_agree(spark):
    """Degree-ordered orientation is invisible in the count: it
    enumerates each triangle exactly once, as the brute-force id-sorted
    enumeration does (the certification the gate's DuckDB oracle
    provides at sf0.01)."""
    from itertools import combinations

    from mbrainz_importer_spark.operators.graph import triangle_count

    pairs = sorted(
        (a, b)
        for a in range(18)
        for b in range(18)
        if a < b and (a * 5 + b * 3 + a * b) % 7 < 2
    )
    edge_set = set(pairs)
    brute = sum(
        1
        for a, b, c in combinations(range(18), 3)
        if {(a, b), (b, c), (a, c)} <= edge_set
    )
    e = _edges(spark, pairs)
    assert triangle_count(e).collect()[0][0] == brute == 5


def test_triangle_skewed_hub(spark):
    """The skew case degree-ordering exists for: a LOW-ID hub (vertex 0,
    degree 60) would fan out C(60,2) wedges under id-canonical
    orientation; degree-ordering points every hub edge AT the hub, so
    the hub emits zero wedges and each triangle is found from its
    low-degree leaf corner. Count is hand-checkable: leaves i,i+1 are
    adjacent and both touch the hub -> exactly 59 triangles."""
    from mbrainz_importer_spark.operators.graph import triangle_count

    hub = [(0, i) for i in range(1, 61)]
    rim = [(i, i + 1) for i in range(1, 60)]
    e = _edges(spark, hub + rim)
    assert triangle_count(e).collect()[0][0] == 59


def test_pagerank_deep_iterations_no_plan_blowup(spark):
    """iters=20 must complete: each round localCheckpoints the rank
    frame, so round T's plan starts from materialized rows instead of a
    20-deep nested join tree (the datalog fixpoint's lineage-cut
    pattern). Also pins convergence sanity: mass stays bounded and the
    hub still outranks the leaf at depth."""
    pairs = [(1, 2), (1, 3), (1, 4), (4, 5)]
    sym = pairs + [(b, a) for a, b in pairs]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, sym), iters=20).collect()
    }
    assert len(out) == 5
    assert sum(out.values()) <= PR_SCALE
    assert out[1] > out[5]


def test_pagerank_dangling_redistribute_hand_computed(spark):
    """dangling='redistribute' (r9 verdict #5): directed a(1)->b(2),
    b is a sink. One integer round by hand: b's parked base mass
    teleports as dm DIV n into BOTH nodes' updates; the default drop
    policy must leave it leaked (strictly lower ranks)."""
    pairs = [(1, 2)]
    e = _edges(spark, pairs)
    base = PR_SCALE // 2
    teleport = (15 * base) // 100
    ds = base // 2  # round-1 dangling mass = b's base rank, split by n=2
    want = {
        1: teleport + (85 * ds) // 100,
        2: teleport + (85 * (base + ds)) // 100,
    }
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, iters=1, dangling="redistribute").collect()
    }
    assert got == want
    dropped = {
        r["node"]: r["rank"] for r in pagerank(e, iters=1).collect()
    }
    assert dropped[1] < got[1] and dropped[2] < got[2]


def test_pagerank_dangling_noop_on_sink_free_graph(spark):
    """On a symmetric (sink-free) graph the redistribute term is zero:
    both policies must produce identical ranks — the symmetric gates
    keep their hashes with either setting."""
    pairs = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, pagerank(e, iters=3).collect()))
    b = sorted(map(tuple, pagerank(e, iters=3, dangling="redistribute").collect()))
    assert a == b


def test_pagerank_rejects_unknown_dangling_policy(spark):
    import pytest

    with pytest.raises(ValueError, match="dangling"):
        pagerank(_edges(spark, [(1, 2)]), dangling="teleport-all")


def test_pagerank_topk_releases_statics_on_demand(spark):
    """r9 verdict #6 — cache hygiene with an explicit handle: the
    statics cache is size-ONE (a new graph evicts and unpersists the
    old one), repeated runs on the same graph reuse it (the
    delta-independent prefix), pagerank_topk's result never references
    it (k rows requified eagerly), and release_pagerank_statics()
    leaves no persistent RDD behind; triangle_count already releases
    inside the call."""
    from mbrainz_importer_spark.operators.graph import (
        _PR_STATICS,
        pagerank_topk,
        release_pagerank_statics,
        triangle_count,
    )

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return set(jmap.keys())

    release_pagerank_statics()
    before = persistent_ids()
    pairs = [(1, 2), (1, 3), (1, 4), (4, 5), (2, 3)]
    sym = pairs + [(b, a) for a, b in pairs]
    e_sym = _edges(spark, sym)
    out = pagerank_topk(e_sym, k=3, iters=3)
    assert out.count() == 3
    assert len(_PR_STATICS) == 1
    first_key = next(iter(_PR_STATICS))
    # the same edge plan again: the cached prefix is REUSED, not
    # rebuilt (local test frames only hash-match when the plan object
    # is reused; parquet-derived plans — the gates — match across
    # rebuilds, pinned in test_pagerank_statics_reuse_across_rebuilds)
    pagerank_topk(e_sym, k=3, iters=3).count()
    assert set(_PR_STATICS) == {first_key}
    # a different graph EVICTS it — the cache is bounded at one entry
    out2 = pagerank_topk(
        _edges(spark, pairs), k=3, iters=3, dangling="redistribute"
    )
    assert out2.count() == 3
    assert len(_PR_STATICS) == 1 and first_key not in _PR_STATICS
    triangle_count(_edges(spark, pairs)).collect()
    # the explicit handle returns every byte: nothing persistent remains
    release_pagerank_statics()
    leaked = persistent_ids() - before
    assert not leaked, f"persistent RDDs leaked: {leaked}"


def test_pagerank_statics_reuse_across_rebuilds(spark):
    """The statics cache must hit when the gate's edge plan is REBUILT
    from storage (every bench run reconstructs the query): two
    independent constructions of the parquet-derived trade graph
    semantically hash equal, so the second run reuses the persisted
    prefix instead of re-materializing it."""
    from mbrainz_importer_spark.operators.graph import (
        _PR_STATICS,
        pagerank_topk,
        release_pagerank_statics,
    )
    from mbrainz_importer_spark.queries.extra import graph_pagerank_topk

    release_pagerank_statics()
    graph_pagerank_topk(spark, "/root/testdata/sf0.001").count()
    assert len(_PR_STATICS) == 1
    key = next(iter(_PR_STATICS))
    graph_pagerank_topk(spark, "/root/testdata/sf0.001").count()
    assert set(_PR_STATICS) == {key}
    release_pagerank_statics()
    assert not _PR_STATICS


def test_bfs_hops_min_distance_and_bounds(spark):
    """bfs_hops on a hand graph: chain 1->2->3->4->5, a shortcut 1->3
    (3 must report hop 1, not 2 — first reach is MIN distance), a
    cycle edge 3->1 (revisits never re-enter), a seed with no edges
    (reported at hop 0), and max_hops cutting the chain's tail."""
    from mbrainz_importer_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (3, 1)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    got = {
        (r.node, r.hop)
        for r in bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert got == {(1, 0), (99, 0), (2, 1), (3, 1), (4, 2), (5, 3)}
    # max_hops=2 drops node 5; everything else unchanged
    got2 = {
        (r.node, r.hop)
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert got2 == {(1, 0), (99, 0), (2, 1), (3, 1), (4, 2)}
    # early exit: a 1-node frontier that dies in round 1 terminates
    # before max_hops without error
    lone = spark.createDataFrame([(7, 8)], "src long, dst long")
    got3 = {
        (r.node, r.hop)
        for r in bfs_hops(lone, spark.createDataFrame([(8,)], "node long"),
                          max_hops=10).collect()
    }
    assert got3 == {(8, 0)}


def test_label_propagation_keeps_dense_communities_apart(spark):
    """Mode-label propagation on two triangles joined by one bridge
    edge: after 3 synchronous rounds each triangle settles on its own
    label ({1,2,3} -> 1, {4,5,6} -> 3 by hand computation) — the
    density-sensitive behavior that distinguishes it from min-label
    connected components, which would collapse the whole (connected)
    graph to one label."""
    from mbrainz_importer_spark.operators.graph import label_propagation

    und = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {(r.node, r.label) for r in label_propagation(edges, iters=3).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 3), (5, 3), (6, 3)}


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    """r14: the per-round argmax became mode(label, deterministic=True)
    (one Exchange per round instead of two). The contract it must keep:
    ties on count resolve to the SMALLEST label. Star centers with
    adversarial neighbor multisets — {9,9,3,3,5}: tie 9 vs 3 -> 3;
    {8,8,6,6,7,7}: three-way tie -> 6; input order carries the larger
    label first, so a first/last-encountered mode would answer 9 / 7."""
    from mbrainz_importer_spark.operators.graph import label_propagation

    # directed edges INTO the two centers (100, 200) from leaf nodes
    # whose ids are the labels in round 1; one round isolates the rule
    edges = spark.createDataFrame(
        [(9, 100), (9, 100), (3, 100), (3, 100), (5, 100),
         (8, 200), (8, 200), (6, 200), (6, 200), (7, 200), (7, 200)],
        "src long, dst long",
    )
    got = {
        (r.node, r.label)
        for r in label_propagation(edges, iters=1).collect()
        if r.node in (100, 200)
    }
    assert got == {(100, 3), (200, 6)}


def test_sssp_bounded_min_plus_beats_first_reach(spark):
    """Bounded Bellman-Ford on a hand graph: the direct edge 1->2 costs
    10 but the 2-hop route 1->3->2 costs 3 — min-PLUS must report 3,
    the semantics BFS's first-reach cannot express. Bounded rounds cut
    the tail of the unit chain, and extra rounds never increase a
    distance (monotonicity)."""
    from mbrainz_importer_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (3, 2, 2), (1, 4, 1), (4, 5, 1), (5, 6, 1)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    d3 = {(r.node, r.dist) for r in sssp_bounded(edges, seeds, rounds=3).collect()}
    assert d3 == {(1, 0), (2, 3), (3, 1), (4, 1), (5, 2), (6, 3)}
    d2 = {(r.node, r.dist) for r in sssp_bounded(edges, seeds, rounds=2).collect()}
    assert d2 == {(1, 0), (2, 3), (3, 1), (4, 1), (5, 2)}  # 6 needs 3 hops
    d1 = {(r.node, r.dist) for r in sssp_bounded(edges, seeds, rounds=1).collect()}
    assert d1 == {(1, 0), (2, 10), (3, 1), (4, 1)}  # direct edge only


def test_triangle_batched_passes_equal_single_pass(spark, monkeypatch):
    """The bounded-spill batching (K hash-of-w passes against the
    persisted adjacency) must count exactly the single-pass edge
    iterator — hash partitioning is exhaustive and disjoint, so this
    pins the partition predicate (the thing a wrong pmod/sign would
    break silently). Forced K>1 via a 1-byte spill budget."""
    from pyspark.sql import functions as F

    from mbrainz_importer_spark import budget
    from mbrainz_importer_spark.operators.graph import triangle_count
    from mbrainz_importer_spark.tables import load

    li = load(spark, "/root/testdata/sf0.001", "lineitem")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    single = triangle_count(edges).collect()[0]["n_triangles"]
    monkeypatch.setattr(budget, "TRIANGLE_SPILL_BYTES", 1)
    batched = triangle_count(edges).collect()[0]["n_triangles"]
    assert batched == single and single > 0
