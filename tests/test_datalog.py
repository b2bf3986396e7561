"""Datalog-lite compiler unit tests, including the reference's own example
queries (examples/explore_db.clj) re-expressed against the imported
mbrainz warehouse."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.plans.datalog import DatalogError, q
from mbrainz_importer_spark.plans.eav import build_datoms, table_datoms


@pytest.fixture(scope="module")
def datoms(spark):
    schema_rows = [
        (":artist/gid", ":db.type/uuid", ":db.unique/identity"),
        (":artist/name", ":db.type/string", None),
        (":release/gid", ":db.type/uuid", ":db.unique/identity"),
        (":mbrainz.initial-import/batch-id", ":db.type/string", ":db.unique/value"),
    ]
    schema_df = spark.createDataFrame(schema_rows, "ident string, valueType string, unique string")
    artist_rows = [
        ("g1", "Adamo", ":artist.type/person"),
        ("g2", "Blue Sharks", ":artist.type/group"),
        ("g3", "Trio X", ":artist.type/group"),
    ]
    artists_df = spark.createDataFrame(artist_rows, "gid string, name string, type string")
    return build_datoms({
        "schema": (schema_df.withColumn("id", schema_df.ident), "id"),
        "artist": (artists_df, "gid"),
    })


def test_unique_attrs_self_join(datoms):
    """explore_db.clj:13-18: [:find ?attr :where [?e :db/unique] [?e :db/ident ?attr]]
    — the J4 EAV self-join on e."""
    out = q(
        {"find": ["?attr"],
         "where": [["?e", ":schema/unique", "_"], ["?e", ":schema/ident", "?attr"]]},
        datoms,
    )
    got = sorted(r["attr"] for r in out.collect())
    assert got == [":artist/gid", ":mbrainz.initial-import/batch-id", ":release/gid"]


def test_count_per_attr(datoms):
    """explore_db.clj:25-31 shape: per-attribute entity counts."""
    out = q({"find": ["?a", ("count", "?e")], "where": [["?e", "?a", "_"]]}, datoms)
    got = {r["a"]: r["count_e"] for r in out.collect()}
    assert got[":artist/name"] == 3
    assert got[":schema/valueType"] == 4
    assert got[":schema/unique"] == 3  # nulls produce no datom


def test_group_count_with_join(datoms):
    out = q(
        {"find": ["?t", ("count", "?e")],
         "where": [["?e", ":artist/type", "?t"]]},
        datoms,
    )
    got = {r["t"]: r["count_e"] for r in out.collect()}
    assert got == {":artist.type/person": 1, ":artist.type/group": 2}


def test_distinct_set_semantics(datoms):
    """Plain-var find returns a SET (no duplicates) like real datalog."""
    out = q({"find": ["?t"], "where": [["_", ":artist/type", "?t"]]}, datoms)
    assert out.count() == 2


def test_numeric_aggregates(spark):
    df = spark.createDataFrame([("o1", 10), ("o2", 20), ("o3", 20)], "id string, qty int")
    datoms = table_datoms(df, "orders", "id")
    # Datomic SET semantics: without :with, duplicate values collapse
    out = q(
        {"find": [("sum", "?v"), ("min", "?v"), ("max", "?v"), ("count-distinct", "?v")],
         "where": [["?e", ":orders/qty", "?v"]]},
        datoms,
    ).collect()[0]
    assert (out["sum_v"], out["min_v"], out["max_v"], out["count_distinct_v"]) == (30.0, 10.0, 20.0, 2)
    # :with ?e keeps per-entity contributions (the SQL-style bag sum)
    out = q(
        {"find": [("sum", "?v")], "with": ["?e"],
         "where": [["?e", ":orders/qty", "?v"]]},
        datoms,
    ).collect()[0]
    assert out["sum_v"] == 50.0


def test_in_params_and_limit(datoms):
    out = q(
        {"find": ["?n"], "in": ["?t"], "limit": 1,
         "where": [["?e", ":artist/type", "?t"], ["?e", ":artist/name", "?n"]]},
        datoms, ":artist.type/group",
    )
    assert out.count() == 1


def test_predicate_const_comparison(spark):
    df = spark.createDataFrame(
        [("o1", 10), ("o2", 20), ("o3", 30)], "id string, qty int"
    )
    datoms = table_datoms(df, "orders", "id")
    out = q(
        {"find": ["?e"],
         "where": [["?e", ":orders/qty", "?v"], [(">", "?v", 15)]]},
        datoms,
    )
    assert sorted(r["e"] for r in out.collect()) == ["orders:o2", "orders:o3"]


def test_predicate_var_var_and_equality(spark):
    df = spark.createDataFrame(
        [("o1", 10, 5), ("o2", 20, 25), ("o3", 30, 30)],
        "id string, qty int, cap int",
    )
    datoms = table_datoms(df, "orders", "id")
    # var-var ordering comparison
    out = q(
        {"find": ["?e"],
         "where": [["?e", ":orders/qty", "?v"],
                   ["?e", ":orders/cap", "?c"],
                   [("<", "?v", "?c")]]},
        datoms,
    )
    assert [r["e"] for r in out.collect()] == ["orders:o2"]
    # string equality predicate (non-numeric context -> canonical v)
    out2 = q(
        {"find": ["?e"],
         "where": [["?e", ":orders/qty", "?v"], [("=", "?v", "20")]]},
        datoms,
    )
    assert [r["e"] for r in out2.collect()] == ["orders:o2"]
    # not= with :in param substitution
    out3 = q(
        {"find": ["?e"], "in": ["?x"],
         "where": [["?e", ":orders/qty", "?v"], [("not=", "?v", "?x")]]},
        datoms, "20",
    )
    assert sorted(r["e"] for r in out3.collect()) == ["orders:o1", "orders:o3"]


def test_predicate_errors(datoms):
    # unbound predicate var
    with pytest.raises(DatalogError, match="unbound predicate var"):
        q({"find": ["?n"],
           "where": [["?e", ":artist/name", "?n"], [(">", "?zzz", 1)]]},
          datoms)
    # predicate before any pattern
    with pytest.raises(DatalogError, match="before any pattern"):
        q({"find": ["?n"],
           "where": [[(">", "?n", 1)], ["?e", ":artist/name", "?n"]]},
          datoms)
    # unsupported operator
    with pytest.raises(DatalogError, match="unsupported predicate op"):
        q({"find": ["?n"],
           "where": [["?e", ":artist/name", "?n"], [("like", "?n", "A%")]]},
          datoms)
    # wrong arity
    with pytest.raises(DatalogError, match="op lhs rhs"):
        q({"find": ["?n"],
           "where": [["?e", ":artist/name", "?n"], [(">", "?n")]]},
          datoms)


def test_rule_basic_and_join(spark):
    df = spark.createDataFrame(
        [("o1", 10, "east"), ("o2", 20, "west"), ("o3", 30, "east")],
        "id string, qty int, zone string",
    )
    datoms = table_datoms(df, "orders", "id")
    rules = [
        [("big-order", "?e", "?q"),
         ["?e", ":orders/qty", "?q"],
         [(">", "?q", 15)]],
    ]
    # rule output joins a further pattern on the shared entity var
    out = q(
        {"find": ["?zone", ("count", "?e")],
         "rules": rules,
         "where": [[("big-order", "?e", "_")],
                   ["?e", ":orders/zone", "?zone"]]},
        datoms,
    )
    got = {r["zone"]: r["count_e"] for r in out.collect()}
    assert got == {"east": 1, "west": 1}
    # numeric projection survives the rule boundary: sum over a rule var
    out2 = q(
        {"find": [("sum", "?q")],
         "rules": rules,
         "where": [[("big-order", "_", "?q")]]},
        datoms,
    ).first()
    assert out2["sum_q"] == 50.0


def test_rule_union_of_definitions(spark):
    df = spark.createDataFrame(
        [("o1", 1), ("o2", 15), ("o3", 99)], "id string, qty int"
    )
    datoms = table_datoms(df, "orders", "id")
    rules = [
        [("extreme", "?e"),
         ["?e", ":orders/qty", "?q"], [("<", "?q", 5)]],
        [("extreme", "?e"),
         ["?e", ":orders/qty", "?q"], [(">", "?q", 50)]],
    ]
    out = q({"find": ["?e"], "rules": rules, "where": [[("extreme", "?e")]]},
            datoms)
    assert sorted(r["e"] for r in out.collect()) == ["orders:o1", "orders:o3"]


def test_rule_constant_arg_and_in_param(spark):
    df = spark.createDataFrame(
        [("o1", "east"), ("o2", "west")], "id string, zone string"
    )
    datoms = table_datoms(df, "orders", "id")
    rules = [[("zone-of", "?e", "?z"), ["?e", ":orders/zone", "?z"]]]
    out = q(
        {"find": ["?e"], "rules": rules, "where": [[("zone-of", "?e", "west")]]},
        datoms,
    )
    assert [r["e"] for r in out.collect()] == ["orders:o2"]
    out2 = q(
        {"find": ["?e"], "in": ["?z"], "rules": rules,
         "where": [[("zone-of", "?e", "?z")]]},
        datoms, "east",
    )
    assert [r["e"] for r in out2.collect()] == ["orders:o1"]


def test_rule_errors(spark):
    df = spark.createDataFrame([("o1", 1)], "id string, qty int")
    datoms = table_datoms(df, "orders", "id")
    base = {"find": ["?e"]}
    with pytest.raises(DatalogError, match="recursive rule"):
        q({**base, "rules": [[("loop", "?e"), [("loop", "?e")]]],
           "where": [[("loop", "?e")]]}, datoms)
    with pytest.raises(DatalogError, match="arity"):
        q({**base,
           "rules": [[("r", "?a"), ["?a", ":orders/qty", "_"]]],
           "where": [[("r", "?a", "?b")]]}, datoms)
    with pytest.raises(DatalogError, match="disagree on arity"):
        q({**base,
           "rules": [[("r", "?a"), ["?a", ":orders/qty", "_"]],
                     [("r", "?a", "?b"), ["?a", ":orders/qty", "?b"]]],
           "where": [[("r", "?a")]]}, datoms)
    with pytest.raises(DatalogError, match="head var .* unbound"):
        q({**base,
           "rules": [[("r", "?a", "?zz"), ["?a", ":orders/qty", "?b"]]],
           "where": [[("r", "?a", "?x")]]}, datoms)
    with pytest.raises(DatalogError, match="unknown rule"):
        q({**base, "where": [["?e", ":orders/qty", "?q"], [("nope", "?q")]]},
          datoms)


def test_not_clause_subtracts_unified_bindings(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 1, "y")],
        "id string, grp int, tag string",
    )
    blocked = spark.createDataFrame([(1,)], "code int")
    datoms = build_datoms({"t": (df, "id"), "blk": (blocked, "code")})
    out = q({
        "find": ["?id"],
        "where": [
            ["?e", ":t/id", "?id"],
            ["?e", ":t/grp", "?g"],
            [("not", ["?b", ":blk/code", "?g"])],
        ],
    }, datoms)
    assert {r["id"] for r in out.collect()} == {"b"}


def test_not_requires_shared_vars(spark):
    df = spark.createDataFrame([("a", 1)], "id string, grp int")
    datoms = build_datoms({"t": (df, "id")})
    with pytest.raises(DatalogError, match="shares no variables"):
        q({"find": ["?id"],
           "where": [["?e", ":t/id", "?id"],
                     [("not", ["?x", ":t/grp", "?zz"])]]}, datoms)


def test_or_clause_union_and_same_vars_rule(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")],
        "id string, grp int, tag string",
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q({
        "find": ["?id"],
        "where": [
            [("or",
              ["?e", ":t/grp", "1"],
              ("and", ["?e", ":t/grp", "3"], ["?e", ":t/tag", "z"]))],
            ["?e", ":t/id", "?id"],
        ],
    }, datoms)
    assert {r["id"] for r in out.collect()} == {"a", "c"}
    with pytest.raises(DatalogError, match="different variable sets"):
        q({"find": ["?id"],
           "where": [[("or", ["?e", ":t/grp", "1"], ["?f", ":t/grp", "2"])],
                     ["?e", ":t/id", "?id"]]}, datoms)


def test_reserved_rule_names(spark):
    df = spark.createDataFrame([("a", 1)], "id string, grp int")
    datoms = build_datoms({"t": (df, "id")})
    with pytest.raises(DatalogError, match="reserved word"):
        q({"find": ["?id"],
           "rules": [[("not", "?x"), ["?x", ":t/grp", "_"]]],
           "where": [["?e", ":t/id", "?id"]]}, datoms)


def _chain_datoms(spark, edges):
    df = spark.createDataFrame(
        [(c, p) for c, p in edges], "id string, parent string"
    )
    return table_datoms(df, "node", "id")


_ANC = [
    [("anc", "?x", "?y"),
     ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?y"]],
    [("anc", "?x", "?y"),
     ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?z"],
     [("anc", "?z", "?y")]],
]


def test_recursive_rule_linear_closure(spark):
    """a->b->c->d chain: the semi-naive fixpoint yields all 6 transitive
    pairs, deduplicated (set semantics) across iterations."""
    datoms = _chain_datoms(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    out = q({"find": ["?x", "?y"], "rules": _ANC,
             "where": [[("anc", "?x", "?y")]]}, datoms)
    got = {(r["x"], r["y"]) for r in out.collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"),
                   ("b", "c"), ("b", "d"), ("c", "d")}


def test_recursive_rule_nonlinear_doubling(spark):
    """Two self-calls in one def (anc := anc . anc) — the naive
    whole-relation substitution path — converges to the same closure."""
    rules = [
        [("anc", "?x", "?y"),
         ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?y"]],
        [("anc", "?x", "?y"),
         [("anc", "?x", "?z")], [("anc", "?z", "?y")]],
    ]
    datoms = _chain_datoms(
        spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    )
    out = q({"find": ["?x", "?y"], "rules": rules,
             "where": [[("anc", "?x", "?y")]]}, datoms)
    assert out.count() == 10  # C(5,2) ordered pairs along the chain


def test_recursive_rule_joins_and_bound_arg(spark):
    """The fixpoint relation behaves like any subplan: a constant arg
    filters it, and further patterns join onto its bindings."""
    datoms = _chain_datoms(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    out = q({"find": ["?y"], "rules": _ANC,
             "where": [[("anc", "a", "?y")]]}, datoms)
    assert {r["y"] for r in out.collect()} == {"b", "c", "d"}


def test_recursive_rule_cycle_terminates(spark):
    """A cyclic graph (a->b->c->a) must terminate: set semantics make
    the closure finite (9 pairs), not an infinite loop."""
    datoms = _chain_datoms(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    out = q({"find": ["?x", "?y"], "rules": _ANC,
             "where": [[("anc", "?x", "?y")]]}, datoms)
    assert out.count() == 9


_PARITY = [
    [("odd", "?x", "?y"),
     ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?y"]],
    [("odd", "?x", "?y"),
     ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?z"],
     [("even", "?z", "?y")]],
    [("even", "?x", "?y"),
     ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?z"],
     [("odd", "?z", "?y")]],
]


def test_mutual_recursion_even_odd(spark):
    """The even/odd clique: ancestors at even vs odd distance along an
    a->b->c->d->e chain — the two rules iterate together (stratified
    semi-naive over the SCC); `even` has no base def and seeds empty."""
    datoms = _chain_datoms(
        spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    )
    even = q({"find": ["?x", "?y"], "rules": _PARITY,
              "where": [[("even", "?x", "?y")]]}, datoms)
    assert {(r["x"], r["y"]) for r in even.collect()} == {
        ("a", "c"), ("b", "d"), ("c", "e"), ("a", "e")}
    odd = q({"find": ["?x", "?y"], "rules": _PARITY,
             "where": [[("odd", "?x", "?y")]]}, datoms)
    assert {(r["x"], r["y"]) for r in odd.collect()} == {
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
        ("a", "d"), ("b", "e")}


def test_mutual_recursion_trivial_clique(spark):
    """p = edges ∪ r, r = p: the clique converges to p = r = edges (no
    new tuples past the seed)."""
    datoms = _chain_datoms(spark, [("a", "b")])
    rules = [
        [("p", "?x", "?y"),
         ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?y"]],
        [("p", "?x", "?y"), [("r", "?x", "?y")]],
        [("r", "?x", "?y"), [("p", "?x", "?y")]],
    ]
    out = q({"find": ["?x", "?y"], "rules": rules,
             "where": [[("r", "?x", "?y")]]}, datoms)
    assert {(r["x"], r["y"]) for r in out.collect()} == {("a", "b")}


def test_mutual_recursion_unseeded_clique_rejected(spark):
    """A clique where EVERY def recurses has nothing to seed the
    fixpoint — rejected, like the direct-recursion equivalent."""
    datoms = _chain_datoms(spark, [("a", "b")])
    rules = [
        [("p", "?x", "?y"), [("r", "?x", "?y")]],
        [("r", "?x", "?y"), [("p", "?x", "?y")]],
    ]
    with pytest.raises(DatalogError, match="no non-recursive def"):
        q({"find": ["?x"], "rules": rules,
           "where": [[("p", "?x", "?y")]]}, datoms).collect()


def test_recursion_through_negation_rejected(spark):
    """A clique edge under (not ...) is non-stratified datalog —
    rejected, never mis-answered."""
    datoms = _chain_datoms(spark, [("a", "b")])
    rules = [
        [("p", "?x", "?y"),
         ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?y"]],
        [("p", "?x", "?y"),
         ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?y"],
         [("not", ("r", "?x", "?y"))]],
        [("r", "?x", "?y"), [("p", "?x", "?y")]],
    ]
    with pytest.raises(DatalogError, match="not stratified"):
        q({"find": ["?x"], "rules": rules,
           "where": [[("p", "?x", "?y")]]}, datoms).collect()


def test_mutual_fixpoint_iteration_bound(spark):
    """MAX_FIXPOINT_ITERS caps a value-generating mutual clique (each
    round derives a fresh number, so the fixpoint never empties)."""
    from mbrainz_importer_spark.plans import datalog as D

    datoms = _chain_datoms(spark, [("a", "b")])
    rules = [
        [("gen-a", "?n"),
         ["?e", ":node/id", "?x"], [("ground", 0), "?n0"],
         [("+", "?n0", 0), "?n"]],
        [("gen-a", "?n"), [("gen-b", "?m")], [("+", "?m", 1), "?n"]],
        [("gen-b", "?n"), [("gen-a", "?m")], [("+", "?m", 1), "?n"]],
    ]
    old = D.MAX_FIXPOINT_ITERS
    D.MAX_FIXPOINT_ITERS = 3
    try:
        with pytest.raises(DatalogError, match="fixpoint"):
            q({"find": ["?n"], "rules": rules,
               "where": [[("gen-a", "?n")]]}, datoms)
    finally:
        D.MAX_FIXPOINT_ITERS = old


def test_fixpoint_iteration_bound(spark):
    """MAX_FIXPOINT_ITERS caps runaway iteration: a 6-deep chain cannot
    close within 2 iterations."""
    from mbrainz_importer_spark.plans import datalog as D

    edges = [(chr(97 + i), chr(98 + i)) for i in range(6)]
    datoms = _chain_datoms(spark, edges)
    old = D.MAX_FIXPOINT_ITERS
    D.MAX_FIXPOINT_ITERS = 2
    try:
        with pytest.raises(DatalogError, match="fixpoint"):
            q({"find": ["?x", "?y"], "rules": _ANC,
               "where": [[("anc", "?x", "?y")]]}, datoms)
    finally:
        D.MAX_FIXPOINT_ITERS = old


def test_history_pattern_positions(spark):
    """[e a v tx] / [e a v tx op] over a history view (log_datoms):
    the tx and op positions bind/filter like any other; tx carries a
    numeric projection for predicates and aggregates."""
    from mbrainz_importer_spark.plans.history import log_datoms

    log = spark.createDataFrame(
        [
            ("u:1", ":t/score", 10.0, 1, True),
            ("u:1", ":t/score", 10.0, 3, False),
            ("u:1", ":t/score", 20.0, 4, True),
            ("u:2", ":t/score", 5.0, 2, True),
        ],
        "e string, a string, v_num double, tx long, added boolean",
    )
    db = log_datoms(log)
    # op constant filters; tx var binds
    out = q({"find": ["?e", "?tx"],
             "where": [["?e", ":t/score", "_", "?tx", False]]}, db)
    assert [(r["e"], r["tx"]) for r in out.collect()] == [("u:1", 3)]
    # tx is numeric: ordering predicate across two patterns
    out2 = q({"find": ["?e", "?t2"],
              "where": [["?e", ":t/score", "?v", "?t1", True],
                        ["?e", ":t/score", "?v", "?t2", False],
                        [("<", "?t1", "?t2")]]}, db)
    assert [(r["e"], r["t2"]) for r in out2.collect()] == [("u:1", 3)]
    # wildcard tx with bound op var in :find
    out3 = q({"find": ["?op", ("count", "?tx")],
              "where": [["_", ":t/score", "_", "?tx", "?op"]]}, db)
    assert {(r["op"], r["count_tx"]) for r in out3.collect()} == {
        (True, 3), (False, 1)}


def test_history_pattern_requires_log_view(datoms):
    with pytest.raises(DatalogError, match="no tx column"):
        q({"find": ["?e"], "where": [["?e", ":t/id", "_", "?tx"]]}, datoms)
    with pytest.raises(DatalogError, match="pattern must be"):
        q({"find": ["?e"],
           "where": [["?e", ":t/id", "_", "?tx", "?op", "?extra"]]}, datoms)


def test_errors(datoms):
    with pytest.raises(DatalogError):
        q({"find": ["?x"], "where": []}, datoms)
    with pytest.raises(DatalogError):
        q({"find": ["?missing"], "where": [["?e", ":artist/name", "?n"]]}, datoms)
    with pytest.raises(DatalogError):
        q({"find": ["?n"], "in": ["?a"], "where": [["?e", "?a", "?n"]]}, datoms)  # no param


def test_mbrainz_import_then_datalog(spark, tmp_path_factory, reference_subsets):
    """End-to-end: import artists via the pipeline, derive EAV, answer the
    reference's 'how many artists per type' in datalog."""
    from mbrainz_importer_spark.pipeline import Importer

    imp = Importer(spark, reference_subsets)
    wh = str(tmp_path_factory.mktemp("wh"))
    imp.load_type("artists", wh)
    artists = spark.read.parquet(f"{wh}/loaded/artists").drop("batch_id")
    datoms = build_datoms({"artist": (artists, "gid")})
    out = q({"find": ["?t", ("count", "?e")], "where": [["?e", ":artist/type", "?t"]]}, datoms)
    got = {r["t"]: r["count_e"] for r in out.collect()}
    assert got[":artist.type/person"] == 2243
    assert got[":artist.type/group"] == 2014
    assert got[":artist.type/other"] == 5


def test_fn_binding_arithmetic_and_str(spark):
    df = spark.createDataFrame(
        [("a", 3, 4), ("b", 10, 2)], "id string, x int, y int"
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q({
        "find": ["?id", "?s", "?tag"],
        "where": [
            ["?e", ":t/id", "?id"],
            ["?e", ":t/x", "?x"],
            ["?e", ":t/y", "?y"],
            [("+", "?x", "?y"), "?xy"],
            [("*", "?xy", 2), "?s"],
            [("str", "?id", ":", "?x"), "?tag"],
        ],
    }, datoms)
    got = {r["id"]: (r["s"], r["tag"]) for r in out.collect()}
    assert got == {"a": (14.0, "a:3"), "b": (24.0, "b:10")}


def test_fn_binding_quot_mod_abs_ground(spark):
    df = spark.createDataFrame([("a", -7)], "id string, x int")
    datoms = build_datoms({"t": (df, "id")})
    out = q({
        "find": ["?qt", "?md", "?ab", "?g"],
        "where": [
            ["?e", ":t/x", "?x"],
            [("quot", "?x", 2), "?qt"],
            [("mod", "?x", 3), "?md"],
            [("abs", "?x"), "?ab"],
            [("ground", 42), "?g"],
        ],
    }, datoms)
    r = out.collect()[0]
    # quot truncates toward zero (Clojure), Spark % keeps the dividend sign
    assert (r["qt"], r["md"], r["ab"], r["g"]) == (-3.0, -1.0, 7.0, "42")
    with pytest.raises(DatalogError, match="already bound"):
        q({"find": ["?x"],
           "where": [["?e", ":t/x", "?x"], [("abs", "?x"), "?x"]]}, datoms)
    with pytest.raises(DatalogError, match="unsupported function"):
        q({"find": ["?y"],
           "where": [["?e", ":t/x", "?x"], [("frobnicate", "?x"), "?y"]]}, datoms)


def test_get_else_and_missing(spark):
    df = spark.createDataFrame(
        [("a", "A", 10), ("b", "B", None), ("c", "C", 30)],
        "id string, name string, score int",
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q({
        "find": ["?id", "?sc"],
        "where": [
            ["?e", ":t/id", "?id"],
            [("get-else", "?e", ":t/score", 0), "?s"],
            [("*", "?s", 1), "?sc"],
        ],
    }, datoms)
    got = {r["id"]: r["sc"] for r in out.collect()}
    assert got == {"a": 10.0, "b": 0.0, "c": 30.0}
    miss = q({
        "find": ["?name"],
        "where": [["?e", ":t/name", "?name"],
                  [("missing?", "?e", ":t/score")]],
    }, datoms)
    assert [r["name"] for r in miss.collect()] == ["B"]
    with pytest.raises(DatalogError, match="must be bound"):
        q({"find": ["?id"],
           "where": [["?e", ":t/id", "?id"],
                     [("missing?", "?zz", ":t/score")]]}, datoms)


def test_aggregate_set_semantics_and_with(spark):
    # three entities, two sharing the same (grp, val) pair
    df = spark.createDataFrame(
        [("e1", "g", 10), ("e2", "g", 10), ("e3", "g", 20)],
        "id string, grp string, val int",
    )
    datoms = build_datoms({"t": (df, "id")})
    base = {"where": [["?e", ":t/grp", "?g"], ["?e", ":t/val", "?v"]]}
    # Datomic SET semantics: distinct (g, v) pairs -> 10 + 20
    no_with = q({"find": ["?g", ("sum", "?v")], **base}, datoms)
    assert no_with.collect()[0]["sum_v"] == 30.0
    # :with ?e keeps per-entity duplicates -> 10 + 10 + 20
    with_e = q({"find": ["?g", ("sum", "?v")], "with": ["?e"], **base}, datoms)
    assert with_e.collect()[0]["sum_v"] == 40.0
    with pytest.raises(DatalogError, match="unbound :with"):
        q({"find": ["?g", ("sum", "?v")], "with": ["?zz"], **base}, datoms)


def test_extended_aggregates(spark):
    df = spark.createDataFrame(
        [("e1", 1), ("e2", 2), ("e3", 3), ("e4", 4)], "id string, v int"
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q({
        "find": [("avg", "?v"), ("median", "?v"), ("stddev", "?v"),
                 ("variance", "?v"), ("distinct", "?id")],
        "with": ["?e"],
        "where": [["?e", ":t/id", "?id"], ["?e", ":t/v", "?v"]],
    }, datoms)
    r = out.collect()[0]
    assert r["avg_v"] == 2.5
    assert r["median_v"] == 2.5
    assert abs(r["variance_v"] - 5.0 / 3.0) < 1e-12
    assert abs(r["stddev_v"] - (5.0 / 3.0) ** 0.5) < 1e-12
    assert r["distinct_id"] == ["e1", "e2", "e3", "e4"]


def test_in_collection_tuple_relation_bindings(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "x")],
        "id string, grp int, tag string",
    )
    datoms = build_datoms({"t": (df, "id")})
    base = [["?e", ":t/grp", "?g"], ["?e", ":t/id", "?id"]]
    # collection ["?g" "..."]
    out = q({"find": ["?id"], "in": [["?g", "..."]], "where": base},
            datoms, ["1", "3"])
    assert {r["id"] for r in out.collect()} == {"a", "c"}
    # tuple ["?g" "?t"]
    out = q({"find": ["?id"], "in": [["?g", "?t"]],
             "where": base + [["?e", ":t/tag", "?t"]]}, datoms, ("1", "x"))
    assert {r["id"] for r in out.collect()} == {"a"}
    # relation [["?g" "?lbl"]] — fresh ?lbl column flows to :find
    out = q({"find": ["?id", "?lbl"], "in": [[["?g", "?lbl"]]], "where": base},
            datoms, [("1", "one"), ("2", "two")])
    assert {(r["id"], r["lbl"]) for r in out.collect()} == {("a", "one"), ("b", "two")}
    # empty collection -> empty result, not an error
    out = q({"find": ["?id"], "in": [["?g", "..."]], "where": base}, datoms, [])
    assert out.count() == 0
    with pytest.raises(DatalogError, match="duplicate :in"):
        q({"find": ["?id"], "in": ["?g", ["?g", "..."]], "where": base},
          datoms, "1", ["2"])


def test_bounded_min_max_aggregates(spark):
    df = spark.createDataFrame(
        [("e1", 5), ("e2", 1), ("e3", 9), ("e4", 3)], "id string, v int"
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q({
        "find": [("min", 2, "?v"), ("max", 3, "?v")],
        "where": [["?e", ":t/v", "?v"]],
    }, datoms).collect()[0]
    assert out["min_2_v"] == [1.0, 3.0]
    assert out["max_3_v"] == [9.0, 5.0, 3.0]
    with pytest.raises(DatalogError, match="take a bound"):
        q({"find": [("sum", 2, "?v")], "where": [["?e", ":t/v", "?v"]]}, datoms)
    with pytest.raises(DatalogError, match="positive int"):
        q({"find": [("min", 0, "?v")], "where": [["?e", ":t/v", "?v"]]}, datoms)


def test_not_join_and_or_join(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "x")],
        "id string, grp int, tag string",
    )
    blocked = spark.createDataFrame([(1, "x"), (2, "zzz")], "code int, tag string")
    datoms = build_datoms({"t": (df, "id"), "blk": (blocked, "code")})
    # not-join restricts unification to ?g: b is blocked (code 2 exists)
    # even though blk:2's tag would NOT match b's tag under full
    # unification — the [?g] vector makes ?bt local to the not.
    out = q({
        "find": ["?id"],
        "where": [
            ["?e", ":t/grp", "?g"],
            ["?e", ":t/tag", "?tag"],
            ["?e", ":t/id", "?id"],
            [("not-join", ["?g"],
              ["?b", ":blk/code", "?g"],
              ["?b", ":blk/tag", "?bt"])],
        ],
    }, datoms)
    assert {r["id"] for r in out.collect()} == {"c"}
    # or-join: legs bind DIFFERENT var sets; only ?e unifies/exports
    out = q({
        "find": ["?id"],
        "where": [
            [("or-join", ["?e"],
              ("and", ["?e", ":t/grp", "?g2"], [(">", "?g2", 2)]),
              ["?e", ":t/tag", "y"])],
            ["?e", ":t/id", "?id"],
        ],
    }, datoms)
    assert {r["id"] for r in out.collect()} == {"b", "c"}
    with pytest.raises(DatalogError, match="unbound in a leg"):
        q({"find": ["?id"],
           "where": [[("or-join", ["?zz"], ["?e", ":t/tag", "y"])],
                     ["?e", ":t/id", "?id"]]}, datoms)
    with pytest.raises(DatalogError, match="unbound in outer"):
        q({"find": ["?id"],
           "where": [["?e", ":t/id", "?id"],
                     [("not-join", ["?qq"], ["?b", ":blk/code", "?qq"])]]},
          datoms)


def test_edn_not_join_or_join(spark):
    from mbrainz_importer_spark.plans.query_edn import q_edn

    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], "id string, grp int, tag string"
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q_edn(
        """[:find ?id
            :where (or-join [?e]
                     (and [?e :t/grp ?g] [(> ?g 1)])
                     [?e :t/tag "zzz"])
                   [?e :t/id ?id]]""",
        datoms,
    )
    assert [r["id"] for r in out.collect()] == ["b"]


def test_find_pull_expression(spark):
    """(pull ?e spec) in :find: relation picks entities, pull projects
    attrs; entities missing an attr get null (left join), and pull
    cannot combine with aggregates."""
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, None), ("c", 9, "z")],
        "id string, grp int, tag string",
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q(
        {
            "find": ["?id", ("pull", "?e", {"tag": ":t/tag", "grp": (":t/grp", "num")})],
            "where": [["?e", ":t/grp", "?g"], [("<", "?g", 5)], ["?e", ":t/id", "?id"]],
        },
        datoms,
    )
    # NOTE: the pull var is ?e (entity), output includes its column
    rows = {r["id"]: (r["tag"], r["grp"]) for r in out.collect()}
    assert rows == {"a": ("x", 1.0), "b": (None, 2.0)}
    with pytest.raises(DatalogError, match="cannot combine"):
        q(
            {
                "find": [("count", "?e"), ("pull", "?e", {"tag": ":t/tag"})],
                "where": [["?e", ":t/grp", "?g"]],
            },
            datoms,
        )
    with pytest.raises(DatalogError, match="unbound pull var"):
        q({"find": [("pull", "?zz", {"t": ":t/tag"})],
           "where": [["?e", ":t/grp", "?g"]]}, datoms)
    with pytest.raises(DatalogError, match="spec-dict"):
        q({"find": [("pull", "?e")],
           "where": [["?e", ":t/grp", "?g"]]}, datoms)


def test_log_api_tx_ids_tx_data(spark):
    """Datomic Log API in query (d/log + tx-ids/tx-data, public API
    docs): range-scan tx ids, join their datoms, destructure ops."""
    from mbrainz_importer_spark.plans.history import log_datoms

    log = spark.createDataFrame(
        [("u1", ":k/a", 1.0, 10, True),
         ("u1", ":k/a", 2.0, 20, True),
         ("u2", ":k/b", 3.0, 20, True),
         ("u1", ":k/a", 2.0, 30, False),
         ("u3", ":k/c", 4.0, 40, True)],
        "e string, a string, v_num double, tx long, added boolean",
    )
    db = log_datoms(log)

    # tx-ids alone: distinct txs in [t1, t2) — half-open like d/tx-range
    out = q(
        {"find": ["?tx"],
         "in": ["?log", "?t1", "?t2"],
         "where": [[("tx-ids", "?log", "?t1", "?t2"), ["?tx", "..."]]]},
        db, log, 10, 40,
    ).orderBy("tx").collect()
    assert [r["tx"] for r in out] == [10, 20, 30]

    # the canonical chain: tx-ids -> tx-data, full destructuring
    out = q(
        {"find": ["?tx", "?e", "?v", "?op"],
         "in": ["?log", "?t1", "?t2"],
         "where": [
             [("tx-ids", "?log", "?t1", "?t2"), ["?tx", "..."]],
             [("tx-data", "?log", "?tx"), [["?e", "_", "?v", "_", "?op"]]],
         ]},
        db, log, 20, 31,
    ).orderBy("tx", "e").collect()
    assert [(r["tx"], r["e"], r["v"], r["op"]) for r in out] == [
        (20, "u1", "2", True), (20, "u2", "3", True), (30, "u1", "2", False),
    ]

    # tx-data with an int literal tx; prefix destructuring
    out = q(
        {"find": ["?e"],
         "in": ["?log"],
         "where": [[("tx-data", "?log", 20), [["?e"]]]]},
        db, log,
    ).orderBy("e").collect()
    assert [r["e"] for r in out] == ["u1", "u2"]

    # a log_datoms view passes through unnormalized
    out = q(
        {"find": ["?e"],
         "in": ["?log"],
         "where": [[("tx-data", "?log", 40), [["?e"]]]]},
        db, db,
    ).collect()
    assert [r["e"] for r in out] == ["u3"]


def test_log_api_errors(spark):
    from mbrainz_importer_spark.plans.history import log_datoms

    log = spark.createDataFrame(
        [("u1", ":k/a", 1.0, 10, True)],
        "e string, a string, v_num double, tx long, added boolean",
    )
    db = log_datoms(log)
    with pytest.raises(DatalogError, match=":in param"):
        q({"find": ["?tx"],
           "where": [[("tx-ids", "?log", 0, 9), ["?tx", "..."]]]}, db)
    with pytest.raises(DatalogError, match="DataFrame"):
        q({"find": ["?tx"], "in": ["?log"],
           "where": [[("tx-ids", "?log", 0, 9), ["?tx", "..."]]]}, db, 7)
    with pytest.raises(DatalogError, match="boundary"):
        q({"find": ["?tx"], "in": ["?log"],
           "where": [[("tx-ids", "?log", "?t", 9), ["?tx", "..."]]]}, db, log)
    with pytest.raises(DatalogError, match="collection"):
        q({"find": ["?tx"], "in": ["?log"],
           "where": [[("tx-ids", "?log", 0, 9), ["?tx"]]]}, db, log)
    with pytest.raises(DatalogError, match="log functions"):
        # a log-valued :in param leaking into a pattern position
        q({"find": ["?e"], "in": ["?log"],
           "where": [["?e", ":k/a", "?log"]]}, db, log)
    with pytest.raises(DatalogError, match="tx/added"):
        q({"find": ["?tx"], "in": ["?log"],
           "where": [[("tx-ids", "?log", 0, 9), ["?tx", "..."]]]},
          db, log.select("e", "a"))


def test_log_api_edn_text(spark):
    """Verbatim Datomic log-query text through the EDN front door."""
    from mbrainz_importer_spark.plans.history import log_datoms
    from mbrainz_importer_spark.plans.query_edn import q_edn

    log = spark.createDataFrame(
        [("u1", ":k/a", 1.0, 10, True),
         ("u2", ":k/b", 2.0, 20, True),
         ("u3", ":k/c", 3.0, 30, True)],
        "e string, a string, v_num double, tx long, added boolean",
    )
    db = log_datoms(log)
    out = q_edn(
        """[:find ?tx ?e
            :in $ ?log ?t1 ?t2
            :where [(tx-ids ?log ?t1 ?t2) [?tx ...]]
                   [(tx-data ?log ?tx) [[?e]]]]""",
        db, log, 10, 30,
    ).orderBy("tx").collect()
    assert [(r["tx"], r["e"]) for r in out] == [(10, "u1"), (20, "u2")]


def test_log_api_instant_boundaries(spark):
    """tx-ids accepts txInstant Dates as boundaries (Datomic's Date
    overload): string boundaries compare against the log's inst
    column; a log without instants raises."""
    from datetime import datetime

    log = spark.createDataFrame(
        [("u1", ":k/a", 1.0, 10, True, datetime(2024, 1, 1)),
         ("u2", ":k/b", 2.0, 20, True, datetime(2024, 1, 5)),
         ("u3", ":k/c", 3.0, 30, True, datetime(2024, 1, 9))],
        "e string, a string, v_num double, tx long, added boolean, inst timestamp",
    )
    db = spark.createDataFrame(
        [("x", ":y/z", "1", 1.0)], "e string, a string, v string, v_num double"
    )
    out = q(
        {"find": ["?tx"], "in": ["?log", "?t1", "?t2"],
         "where": [[("tx-ids", "?log", "?t1", "?t2"), ["?tx", "..."]]]},
        db, log, "2024-01-02 00:00:00", "2024-01-09 00:00:00",
    ).orderBy("tx").collect()
    assert [r["tx"] for r in out] == [20]  # half-open on the instant axis

    # mixed: int start, instant end
    out = q(
        {"find": ["?tx"], "in": ["?log"],
         "where": [[("tx-ids", "?log", 10, "2024-01-06 00:00:00"), ["?tx", "..."]]]},
        db, log,
    ).orderBy("tx").collect()
    assert [r["tx"] for r in out] == [10, 20]

    bare = log.drop("inst")
    with pytest.raises(DatalogError, match="inst"):
        q({"find": ["?tx"], "in": ["?log"],
           "where": [[("tx-ids", "?log", "2024-01-01", "2024-01-09"), ["?tx", "..."]]]},
          db, bare).collect()


def test_string_fns_and_predicates(spark):
    """clojure.string pack: bindings + predicates, namespaced or bare,
    Clojure arg orders (re-find pattern first, subs 0-based)."""
    df = spark.createDataFrame(
        [(1, "Alpha"), (2, "beta"), (3, "  pad  "), (4, None)],
        "id int, name string",
    )
    datoms = build_datoms({"t": (df, "id")})

    out = q(
        {"find": ["?n", "?u", "?p", "?len"],
         "where": [
             ["?e", ":t/name", "?n"],
             [("clojure.string/upper-case", "?n"), "?u"],
             [("subs", "?n", 0, 2), "?p"],
             [("count", "?n"), "?len"],
         ]},
        datoms,
    ).orderBy("n").collect()
    got = {r["n"]: (r["u"], r["p"], r["len"]) for r in out}
    assert got["Alpha"] == ("ALPHA", "Al", 5)
    assert got["beta"] == ("BETA", "be", 4)

    # predicates: starts-with? / includes? / re-matches / blank?-negation
    names = lambda rows: [r["n"] for r in rows]  # noqa: E731
    r1 = q({"find": ["?n"], "where": [["?e", ":t/name", "?n"],
                                      [("starts-with?", "?n", "Al")]]},
           datoms).collect()
    assert names(r1) == ["Alpha"]
    r2 = q({"find": ["?n"], "where": [["?e", ":t/name", "?n"],
                                      [("clojure.string/includes?", "?n", "et")]]},
           datoms).collect()
    assert names(r2) == ["beta"]
    r3 = q({"find": ["?n"], "where": [["?e", ":t/name", "?n"],
                                      [("re-matches", "[a-z]+", "?n")]]},
           datoms).collect()
    assert names(r3) == ["beta"]  # whole-string anchor: '  pad  ' fails
    r4 = q({"find": ["?n"], "where": [["?e", ":t/name", "?n"],
                                      [("blank?", "?n")]]},
           datoms).collect()
    assert names(r4) == []  # '  pad  ' trims to 'pad', not blank

    # count is numeric: joins the v_num convention in comparisons
    r5 = q({"find": ["?n"], "where": [["?e", ":t/name", "?n"],
                                      [("count", "?n"), "?c"],
                                      [(">", "?c", 4)]]},
           datoms).orderBy("n").collect()
    assert names(r5) == ["  pad  ", "Alpha"]

    # subs without end: suffix from 0-based index
    r6 = q({"find": ["?s"], "where": [["?e", ":t/name", "?n"],
                                      [("starts-with?", "?n", "b")],
                                      [("subs", "?n", 1), "?s"]]},
           datoms).collect()
    assert [r["s"] for r in r6] == ["eta"]

    with pytest.raises(DatalogError, match="literal pattern"):
        q({"find": ["?n"], "where": [["?e", ":t/name", "?n"],
                                     [("re-find", "?n", "?n")]]}, datoms)
    with pytest.raises(DatalogError, match="int literal"):
        q({"find": ["?s"], "where": [["?e", ":t/name", "?n"],
                                     [("subs", "?n", "?n"), "?s"]]}, datoms)


def test_min_max_str_aggregates(spark):
    """(min-str ?x)/(max-str ?x): lexical min/max over the canonical
    string value — the engine extension covering string-typed attrs
    where plain (min ?x)'s numeric projection is null."""
    df = spark.createDataFrame(
        [(1, "banana"), (2, "apple"), (3, "cherry")], "id int, name string"
    )
    datoms = build_datoms({"t": (df, "id")})
    out = q(
        {"find": [("min-str", "?n"), ("max-str", "?n")],
         "where": [["?e", ":t/name", "?n"]]},
        datoms,
    ).collect()[0]
    assert out["min_str_n"] == "apple" and out["max_str_n"] == "cherry"

    # grouped form
    df2 = spark.createDataFrame(
        [(1, "g1", "b"), (2, "g1", "a"), (3, "g2", "z")],
        "id int, grp string, name string",
    )
    d2 = build_datoms({"t": (df2, "id")})
    rows = q(
        {"find": ["?g", ("min-str", "?n")],
         "where": [["?e", ":t/grp", "?g"], ["?e", ":t/name", "?n"]]},
        d2,
    ).orderBy("g").collect()
    assert [(r["g"], r["min_str_n"]) for r in rows] == [("g1", "a"), ("g2", "z")]


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_recursive_rule_job_budget(spark):
    """Direct recursion runs on the clique fixpoint (a clique of one)
    within a fixed Spark job budget: a linear 8-chain closure in at
    most 48 jobs, and a seed that derives nothing runs no round at all
    (the base settle and the query's own jobs only)."""
    datoms = _chain_datoms(spark, [(chr(97 + i), chr(98 + i)) for i in range(8)])
    j0 = _jobs(spark)
    out = q({"find": ["?x", "?y"], "rules": _ANC,
             "where": [[("anc", "?x", "?y")]]}, datoms).collect()
    assert _jobs(spark) - j0 <= 48
    assert len(out) == 36  # C(9, 2) ordered pairs along the chain

    empty_seed = [
        [("anc", "?x", "?y"),
         ["?e", ":node/id", "?x"], ["?e", ":node/parent", "?y"],
         [("=", "?x", "zz")]],
        _ANC[1],
    ]
    datoms = _chain_datoms(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    j0 = _jobs(spark)
    out = q({"find": ["?x", "?y"], "rules": empty_seed,
             "where": [[("anc", "?x", "?y")]]}, datoms).collect()
    assert _jobs(spark) - j0 <= 6
    assert out == []
