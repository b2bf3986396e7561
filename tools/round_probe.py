#!/usr/bin/env python
"""Structural record of the iterative operators: Spark jobs, stages and
plan Exchanges per round for one small input per operator (PageRank,
bfs, label propagation, sssp, connected components, a directly
recursive datalog rule and the even/odd clique), plus the job counts
and result digests of four recursive-rule queries.

Each operator runs at k and at k+1 rounds; `per_round` is the
difference. `actions` lists the SQL executions of a run in order as
[jobs, shuffle Exchanges, broadcast Exchanges], read from the current
(final) adaptive plan. The counts are structural, so the records of two
checkouts compare directly.

Usage: python tools/round_probe.py [out.json]   (stdout when omitted)
It imports the package of the checkout it runs from.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.getcwd())

from mbrainz_importer_spark.operators import dedup, graph  # noqa: E402
from mbrainz_importer_spark.plans.datalog import q  # noqa: E402
from mbrainz_importer_spark.queries.datalog_queries import (  # noqa: E402
    _ANCESTOR_RULES, _PARITY_RULES,
)
from mbrainz_importer_spark.plans.eav import table_datoms  # noqa: E402
from mbrainz_importer_spark.session import get_spark  # noqa: E402

_SHUFFLE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")
_BCAST = re.compile(r"BroadcastExchange \(\d+\)")
_KEYS = ("jobs", "stages", "shuffle_exchanges", "broadcast_exchanges")

_ANC = _ANCESTOR_RULES
_DOUBLING = [_ANC[0], [_ANC[0][0], [("ancestor", "?x", "?z")],
                       [("ancestor", "?z", "?y")]]]
_EMPTY_SEED = [_ANC[0] + [[("=", "?x", "zz")]], _ANC[1]]


def _listed(seq) -> list:
    """A Scala Seq as a Python list."""
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _jobs(spark) -> list:
    return _listed(spark.sparkContext._jsc.sc().statusStore().jobsList(None))


def _execs(spark) -> list:
    return _listed(spark._jsparkSession.sharedState().statusStore().executionsList())


def _measure(spark, fn) -> tuple[dict, list]:
    """Run `fn` and return (its Spark footprint, its rows)."""
    seen = {j.jobId() for j in _jobs(spark)}
    last = max((e.executionId() for e in _execs(spark)), default=-1)
    rows = fn()
    new_jobs = [j for j in _jobs(spark) if j.jobId() not in seen]
    actions = []
    for e in sorted(_execs(spark), key=lambda e: e.executionId()):
        if e.executionId() > last:
            tree = e.physicalPlanDescription().split("\n\n", 1)[0]
            tree = tree.split("== Initial Plan ==", 1)[0]
            actions.append([e.jobs().size(), len(_SHUFFLE.findall(tree)),
                            len(_BCAST.findall(tree))])
    return {
        "jobs": len(new_jobs),
        "stages": sum(j.stageIds().size() for j in new_jobs),
        "shuffle_exchanges": sum(a[1] for a in actions),
        "broadcast_exchanges": sum(a[2] for a in actions),
        "actions": actions,
    }, rows


def _chain(k: int) -> list:
    return [(chr(97 + i), chr(98 + i)) for i in range(k)]


def _rule(spark, rules, name, edges) -> list:
    datoms = table_datoms(
        spark.createDataFrame(edges, "id string, parent string"), "node", "id"
    )
    return q({"find": ["?x", "?y"], "rules": rules,
              "where": [[(name, "?x", "?y")]]}, datoms).collect()


def _operators(spark):
    """(name, input, k, run(rounds) -> rows) per operator."""
    ring = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)]
        + [(i, (i + 5) % 12) for i in range(0, 12, 3)],
        "src bigint, dst bigint",
    )
    sym = ring.unionByName(ring.selectExpr("dst AS src", "src AS dst")).distinct()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src bigint, dst bigint"
    )
    wchain = chain.withColumn("w", (chain.src % 3) + 1)
    seeds = spark.createDataFrame([(0,)], "node bigint")

    def pagerank(k):
        graph.release_pagerank_statics()
        return graph.pagerank(ring, iters=k).collect()

    def path(k):
        pairs = [(i, i + 1) for i in range(2 ** k - 1)]
        return dedup.connected_components(
            spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
        ).collect()

    return [
        ("pagerank", "12-node ring + 4 chords, iters k", 3, pagerank),
        ("bfs_hops", "13-node chain from node 0, max_hops k", 3,
         lambda k: graph.bfs_hops(chain, seeds, max_hops=k).collect()),
        ("label_propagation", "symmetric 12-node ring + 4 chords, iters k", 3,
         lambda k: graph.label_propagation(sym, iters=k).collect()),
        ("sssp_bounded", "13-node weighted chain from node 0, rounds k", 3,
         lambda k: graph.sssp_bounded(wchain, seeds, rounds=k).collect()),
        # pointer jumping takes one more round per doubling of the path
        ("connected_components", "path of 2^k nodes", 3, path),
        ("datalog_direct_recursion", "ancestor over a k-edge chain", 8,
         lambda k: _rule(spark, _ANC, "ancestor", _chain(k))),
        ("datalog_even_odd_clique", "even-hop over a k-edge chain", 8,
         lambda k: _rule(spark, _PARITY_RULES, "even-hop", _chain(k))),
    ]


def main() -> int:
    spark = get_spark("round_probe", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    record = {"operators": {}, "recursion": {}}
    for name, what, k, run in _operators(spark):
        run(k)  # warm-up: first-call planning and class loading
        a, b = (_measure(spark, lambda r=r: run(r))[0] for r in (k, k + 1))
        record["operators"][name] = {
            "input": what, "k": k,
            "per_round": {key: b[key] - a[key] for key in _KEYS},
            "at_k": a, "at_k_plus_1": b,
        }
    for name, rules, edges in [
        ("linear_8_chain", _ANC, _chain(8)),
        ("3_cycle", _ANC, [("a", "b"), ("b", "c"), ("c", "a")]),
        ("nonlinear_doubling_8_chain", _DOUBLING, _chain(8)),
        ("empty_seed_3_chain", _EMPTY_SEED, _chain(3)),
    ]:
        stats, rows = _measure(
            spark, lambda: _rule(spark, rules, "ancestor", edges)
        )
        digest = json.dumps(sorted(map(list, rows))).encode()
        record["recursion"][name] = {
            "jobs": stats["jobs"], "rows": len(rows),
            "rows_sha1": hashlib.sha1(digest).hexdigest(),
        }
    text = json.dumps(record, indent=1) + "\n"
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
