#!/usr/bin/env python
"""Scale-tier bench runner with the build/steady split the r8 verdict
asked for (item #4): bucketed layouts, materialized stores and indexes
build ONCE per sf_dir, so a single-run number charges the one-time
layout investment to the query and makes the better plan read worse
(r8: q5_bucketed 30.8s single-run vs 15.4s plain at sf10, while the
steady state was the reverse). Every query here runs `--runs` times
(default 3): `build_run_seconds` is run 1 (carries any one-time build),
`steady_seconds` the median of the remaining runs — the number a
tool-reader should rank plans by. `value` sums steady seconds.

Usage:
  python tools/scale_bench.py SF_DIR [--runs N] [--only a,b,c] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the scale-critical headline set: every family with a real data-volume
# axis. Documented exclusions at specific tiers live in TIER_SKIP.
SCALE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q3_shipping_priority_bucketed",
    "q18_large_orders_bucketed",
    "q5_region_revenue",
    "q5_region_revenue_bucketed",
    "q5_region_revenue_colocated_shj",
    "layout_append_compact",
    "stream_layout_ingest",
    "stream_datom_ingest",
    "upsert_merge",
    "broadcast_dim_join",
    "nested_collect",
    "batch_numbering",
    "window_topk_per_group",
    "window_topk_per_group_agg",
    "window_topk_per_group_bucketed",
    "stream_datom_ingest_sliver",
    "embedding_covariance_q8",
    "embedding_pca_project",
    "dedup_exact",
    "dedup_exact_fast",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_simhash",
    "dedup_span_level",
    "dedup_substring_coverage",
    "text_stats",
    "sim_topk_bruteforce",
    "sim_topk_arrow",
    "sim_ivf_topk",
    "sim_ivf_incremental_exact",
    "sim_ivf_pq_serving",
    "sim_ivf_pq_adc_serving",
    "sim_ivf_pq_sq8_refine_serving",
    "sim_ivf_sq8_exact",
    "multimodal_meta",
    "datalog_region_nations",
    "datalog_from_store",
    "datalog_fact_store_scan",
    "datalog_fact_store_bucketed",
    "pull_from_store",
    "store_incremental_merge",
    "store_merge_bucketed",
    "datalog_recursive_ancestors",
    "sequence_packing",
    "curation_pipeline",
    "quality_classifier_scores",
    "semdedup_survivors",
    "semdedup_survivors_arrow",
    "semdedup_pq_serving",
    "hybrid_rrf_topk",
    "hybrid_rrf_from_index",
    "hybrid_rrf_serving",
    "hybrid_rrf_pq_serving",
    "fulltext_bm25_from_index",
    "fulltext_incremental_index",
    "fulltext_bm25_batch",
    "fulltext_excision",
    "graph_pagerank_topk",
    "graph_pagerank_bucketed",
    "graph_bfs_hops",
    "graph_bfs_hops_bucketed",
    "graph_bfs_appended_layout",
    "graph_sssp_bounded",
    "graph_sssp_bucketed",
    "graph_label_propagation",
    "graph_label_propagation_bucketed",
    "graph_triangle_count",
    "graph_triangle_bucketed",
    "agg_incremental_view",
    "embedding_kmeans_assign",
    "skew_salted_join",
    "er_resolved_clusters",
]

# name -> (min sf at which it is skipped, reason recorded in the JSON)
TIER_SKIP = {
    "sim_topk_bruteforce": (
        10.0,
        "documented O(n*q) exact-oracle face; production twin "
        "sim_topk_arrow runs at every tier",
    ),
    "dedup_minhash_lsh": (
        100.0,
        "true-pair mass quadratic in the REPLICATED corpus's copy "
        "count (~2.5B pairs at sf100 by arithmetic) — result size, "
        "not plan. The full-decade datapoint lives on the "
        "unique-document corpus instead (tools/make_unique_docs.py, "
        ".bench_data/sf100u: 5M unique docs, linear pair mass — "
        "steady 97.4s, 257,777 pairs, r11)",
    ),
    "dedup_lsh_verified": (
        100.0,
        "same quadratic true-pair mass as dedup_minhash_lsh on the "
        "replicated corpus; measured at .bench_data/sf100u instead "
        "(steady 21.4s, 255,813 verified pairs at 8g, r11)",
    ),
    "hybrid_rrf_topk": (
        100.0,
        "certification twin: builds both retrieval structures in-query "
        "(full postings pass + exact cosine scan) so every score is "
        "oracle-reproducible from the raw tables — a corpus scan by "
        "design (71.95s at sf100, 10.3x/decade). Production faces "
        "hybrid_rrf_from_index / hybrid_rrf_serving run at every tier "
        "(5.16s at sf100)",
    ),
    "stream_datom_ingest": (
        100.0,
        "the gate's 10% increment carries all 3 of the store's "
        "attributes, so every epoch's merge rewrites the WHOLE "
        "fact-scale store (O(touched partitions) = O(store) at this "
        "schema) and the gate rebuilds the store per run for "
        "hash-stability — gate-fixture shape, not plan; sf10 measures "
        "the full stream/merge/compact cycle. The production shape is "
        "measured by stream_datom_ingest_sliver (r12): increments "
        "touch 1 of 6 attribute partitions",
    ),
    "stream_datom_ingest_sliver": (
        100.0,
        "the gate rebuilds its SIX-attribute full-corpus store per run "
        "for hash-stability (900M datoms at sf100 — a multi-minute "
        "build per sample that measures the builder, not the sliver "
        "merge); sf10 measures the production claim: each epoch "
        "touches 1 of 6 attribute partitions",
    ),
    "sim_ivf_sq8_exact": (
        100.0,
        "exhaustive-probe exact-oracle face (the corpus-wide SQ8 "
        "certification scans every cell by design); the partial-probe "
        "serving plan is the same scan shape as sim_ivf_pq_serving",
    ),
    "graph_triangle_count": (
        100.0,
        "key-shifted replication reuses the part vocabulary, so 100x "
        "orders DENSIFY the co-purchase graph (mean degree ~x100): "
        "triangle/intersection mass grows superquadratically — "
        "workload shape, not plan. The full-decade datapoint lives on "
        "the degree-controlled graph corpus instead "
        "(tools/make_graph_corpus.py, .bench_data/sf100g: disjoint "
        "per-copy key domains, linear edge growth at constant degree)",
    ),
    "graph_triangle_bucketed": (
        100.0,
        "same densified-workload bound as graph_triangle_count (the "
        "layout changes the derivation's plan, not the wedge mass); "
        "measured at .bench_data/sf100g",
    ),
    "skew_salted_join": (
        100.0,
        "the hash-certification face materializes the full salted pair "
        "stream through a sort spill (>30 GB at sf100 — exhausted this "
        "box's free disk mid-run); bounded by local spill space, not "
        "plan. Measured under the r12 isolation protocol (--clean "
        "other-tiers) on .bench_data/sf100g; the session default for "
        "production skew is AQE skew-join",
    ),
    "er_resolved_clusters": (
        100.0,
        "replication duplicates every person 100x, so linkage blocks "
        "grow 100x and within-block pair mass ~10^4x — result size, "
        "not plan. The full-decade datapoint lives on the "
        "degree-controlled corpus (.bench_data/sf100g: per-copy salted "
        "blocking tokens keep blocks fixture-sized, block count linear)",
    ),
}


# memory/partition profiles (r9 verdict #7): the sf100 PLAIN fact-fact
# shapes need a bigger heap + more shuffle partitions than the default
# 8g/32 (PLAN_NOTES_r09.md §9/§25 ran them by hand) — `--profile 24g`
# makes every such row reproducible in one command. Must be applied
# BEFORE the JVM starts, which is why this is a launcher flag and not
# a per-query knob.
PROFILES = {
    "default": {},
    "24g": {
        "SPARK_GRAFT_DRIVER_MEM": "24g",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "64",
    },
}


def _size_partitions(sf_dir: str) -> None:
    """Size the session's partitions to the TIER'S fact bytes (lineitem
    + orders parquet) before the JVM starts:

    - spark.sql.shuffle.partitions = 2^ceil(log2(fact_bytes / 64 MB)),
      cap 512, when that exceeds 32. The sf100 plain fact-fact shapes
      OOM an 8g heap at a flat 32 and run at 8g at 256; AQE coalescing
      folds the extra partitions back for the small queries.
    - the AQE initial partition floor, budget.initial_partition_floor
      (sf0.1 keeps the static count; sf10g and sf100 start at 256).

    An explicit SPARK_GRAFT_SHUFFLE_PARTITIONS or
    SPARK_GRAFT_INITIAL_PARTITIONS (or a profile that sets one) wins."""
    import math

    from mbrainz_importer_spark import budget
    from mbrainz_importer_spark.session import default_parallelism

    total = 0
    for name in ("lineitem.parquet", "orders.parquet"):
        p = os.path.join(sf_dir, name)
        if os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    need = total // (64 << 20)
    if need > 32:
        os.environ.setdefault(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(min(512, 2 ** math.ceil(math.log2(need))))
        )
    static = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", default_parallelism()))
    os.environ.setdefault(
        "SPARK_GRAFT_INITIAL_PARTITIONS", str(budget.initial_partition_floor(static, total))
    )


def _clean_warehouse(mode: str, sf_dir: str) -> list[str]:
    """Measurement isolation (r11 verdict #4): the sf100 fact-scale rows
    read 48-138s single samples after a day of tier churn — stale
    measured stores from OTHER tiers eat the disk the current tier's
    merges spill into (the r11 ladder ran out of disk twice).
    'other-tiers' removes warehouse tables tagged with a different
    sf/corpus tag than this run's; 'tier' removes THIS tier's tables
    (forcing rebuilds, charged to the build run). Must run before the
    session starts — the in-memory catalog is re-adopted from disk."""
    import re
    import shutil

    removed: list[str] = []
    wh = "spark-warehouse"
    if mode == "none" or not os.path.isdir(wh):
        return removed
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    for name in sorted(os.listdir(wh)):
        p = os.path.join(wh, name)
        if not os.path.isdir(p):
            continue
        tagged = re.search(r"_sf[0-9][0-9_]*[a-z]*$", name) is not None
        same = name.endswith(f"_{tag}")
        if (mode == "other-tiers" and tagged and not same) or (
            mode == "tier" and same
        ):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(name)
    return removed


def _drop_page_cache() -> bool:
    """Drop the OS page cache so every isolated sample starts from the
    same (cold) I/O state — the other half of the 48-138s band: a
    partially cached 8 GB fact scan is fast or slow depending on what
    the previous query evicted. Root-only; returns False (and the run
    proceeds warm) where not permitted."""
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
        return True
    except OSError:
        return False


def _stage_totals(spark) -> dict[str, int] | None:
    """Cumulative task-time / GC / spill / shuffle totals over every
    COMPLETED stage so far, read from the JVM's AppStatusStore (the
    store that backs the UI; populated even with spark.ui.enabled=false).
    Per-sample deltas of these totals decompose a wall-clock band into
    its sources — executor work vs GC vs spill vs I/O — which is the
    instrumentation the r12 verdict asked for on the q5 sf100 spread
    (40-67% against a <=15% criterion: page cache and stale stores were
    already ruled out by --cold/--clean). Returns None if the private
    store interface is unavailable (fields probed defensively)."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        seq = store.stageList(None)
        totals = {k: 0 for k in (
            "executor_run_ms", "executor_cpu_ns", "gc_ms",
            "mem_spill_bytes", "disk_spill_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "tasks",
        )}
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.status().toString() != "COMPLETE":
                continue
            totals["executor_run_ms"] += int(s.executorRunTime())
            totals["executor_cpu_ns"] += int(s.executorCpuTime())
            totals["gc_ms"] += int(s.jvmGcTime())
            totals["mem_spill_bytes"] += int(s.memoryBytesSpilled())
            totals["disk_spill_bytes"] += int(s.diskBytesSpilled())
            totals["shuffle_read_bytes"] += int(s.shuffleReadBytes())
            totals["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            totals["tasks"] += int(s.numCompleteTasks())
        return totals
    except Exception:
        return None


def _plan_signature(df) -> str:
    """Stable signature of the EXECUTED (post-AQE) physical plan:
    operator/strategy lines with runtime-varying ids and sizes stripped.
    Two samples of the same query with different signatures = AQE plan
    flapping — one of the candidate variance sources for the q5 band."""
    import hashlib
    import re

    try:
        s = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return ""
    s = re.sub(r"#\d+[A-Z]*", "#x", s)          # expression ids
    s = re.sub(r"\[id=#?\d+\]", "", s)           # plan node ids
    s = re.sub(r"\b\d+(\.\d+)?\s*(B|KiB|MiB|GiB)\b", "SZ", s)  # stats
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    return hashlib.md5(s.encode()).hexdigest()[:12]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--only", default=os.environ.get("SPARK_GRAFT_ONLY", ""))
    ap.add_argument("--out", default="")
    ap.add_argument(
        "--profile", default="default", choices=sorted(PROFILES),
        help="session memory/partition profile; set before the JVM starts",
    )
    ap.add_argument(
        "--clean", default="none", choices=["none", "other-tiers", "tier"],
        help="pre-run warehouse cleanup (isolation protocol, r11 #4)",
    )
    ap.add_argument(
        "--cold", action="store_true",
        help="drop the OS page cache before every sample (root only); "
        "isolates fact-scale scans from the previous query's cache state",
    )
    ap.add_argument(
        "--ab", default="",
        help="two comma-separated query names to INTERLEAVE (A,B,A,B,...) "
        "for --runs rounds in one session — the controlled-comparison "
        "protocol from PLAN_NOTES_r11 §3, promoted into the tool",
    )
    ap.add_argument(
        "--stage-metrics", action="store_true",
        help="record per-sample stage-metric deltas (executor/GC/spill/"
        "shuffle) and post-AQE plan signatures — the variance "
        "decomposition instrumentation (r12 verdict #2)",
    )
    args = ap.parse_args()
    for k, v in PROFILES[args.profile].items():
        os.environ.setdefault(k, v)
    _size_partitions(args.sf_dir)
    cleaned = _clean_warehouse(args.clean, args.sf_dir)
    if cleaned:
        print(f"# cleaned {len(cleaned)} warehouse tables: "
              f"{', '.join(cleaned[:8])}{'...' if len(cleaned) > 8 else ''}",
              file=sys.stderr)

    raw_sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    corpus = raw_sf.lstrip("0123456789._")  # 'u' / 'g' corpus variants
    try:
        sf = float(raw_sf[: len(raw_sf) - len(corpus)] or "-1")
    except ValueError:
        sf = -1.0
    # tier skips describe the key-shifted REPLICATED corpus; the unique
    # (u) and degree-controlled graph (g) corpora exist precisely to
    # lift them, so skips do not apply there
    if corpus:
        os.environ.setdefault("SPARK_GRAFT_CORPUS", corpus)

    from mbrainz_importer_spark.queries import all_queries
    from mbrainz_importer_spark.session import get_spark
    from mbrainz_importer_spark.sources.bucketed import shape_trust

    spark = get_spark("scale_bench")
    queries = all_queries()
    names = [n for n in SCALE_QUERIES if n in queries]
    if args.only:
        keep = {s.strip() for s in args.only.split(",") if s.strip()}
        names = [n for n in names if n in keep]

    skipped = {}
    metric_log: dict[str, list] = {}
    sig_log: dict[str, list] = {}
    spark.read.parquet(f"{args.sf_dir}/region.parquet").count()

    def sample_once(name: str) -> tuple[float, int, bool | None]:
        if args.cold:
            _drop_page_cache()
        pre = _stage_totals(spark) if args.stage_metrics else None
        t0 = time.perf_counter()
        df = queries[name](spark, args.sf_dir)
        with shape_trust(df) as pick:
            rows = df.count()
        dt = round(time.perf_counter() - t0, 4)
        if args.stage_metrics:
            post = _stage_totals(spark)
            delta = (
                {k: post[k] - pre[k] for k in post}
                if pre is not None and post is not None else None
            )
            metric_log.setdefault(name, []).append(delta)
            sig_log.setdefault(name, []).append(_plan_signature(df))
        # localCheckpoint blocks (DISK_ONLY at fact scale since r12)
        # are freed by the ContextCleaner only when the JVM GCs the
        # dead RDD — on a mostly-idle heap that lags by many samples,
        # and 6 runs x 2.5 GB of dead edge prefixes filled the disk
        # live (SPILL_OUT_OF_MEMORY: No space left on device). A GC
        # nudge after each sample keeps dead blocks bounded; it runs
        # OUTSIDE the timed window.
        spark.sparkContext._jvm.System.gc()
        return dt, rows, pick

    if args.ab:
        a, b = (s.strip() for s in args.ab.split(","))
        rec: dict = {a: [], b: []}
        rows_of: dict = {}
        for rnd in range(max(2, args.runs)):
            for name in (a, b):
                s, rows, _ = sample_once(name)
                rec[name].append(s)
                rows_of[name] = rows
                print(f"# round {rnd} {name}: {s:.2f}s rows={rows}",
                      file=sys.stderr)
        doc = {
            "metric": "ab_interleaved_wall_seconds",
            "sf": sf, "corpus": corpus, "rounds": max(2, args.runs),
            "cold": args.cold,
            "profile": args.profile,
            "queries": {
                n: {
                    "samples": rec[n],
                    "steady_seconds": _median(rec[n][1:]),
                    "spread_pct": _spread_pct(rec[n][1:]),
                    "rows": rows_of[n],
                    **(
                        {"stage_metrics": metric_log.get(n),
                         "plan_sigs": sig_log.get(n)}
                        if args.stage_metrics else {}
                    ),
                } for n in (a, b)
            },
        }
        line = json.dumps(doc)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(doc, f, indent=1)
        print(line)
        return

    out: dict = {}
    for name in names:
        gate = TIER_SKIP.get(name)
        if gate and sf >= gate[0] and not corpus:
            skipped[name] = gate[1]
            print(f"# {name}: SKIPPED at sf{sf}: {gate[1]}", file=sys.stderr)
            continue
        samples, rows = [], -1
        picks = []
        for _ in range(max(1, args.runs)):
            # automatic plan selection for bucketed merges (the shape
            # rule measured in PLAN_NOTES_r09.md §14/§25); the pre-check
            # is charged to the run — it is part of the served path
            s, rows, pick = sample_once(name)
            picks.append(pick)
            samples.append(s)
        rest = samples[1:] or samples
        entry = {
            "build_run_seconds": samples[0],
            "steady_seconds": _median(rest),
            "spread_pct": _spread_pct(rest),
            "samples": samples,
            "rows": rows,
        }
        if any(p is not None for p in picks):
            entry["sort_trust_picked"] = picks[-1]
        if args.stage_metrics:
            entry["stage_metrics"] = metric_log.get(name)
            entry["plan_sigs"] = sig_log.get(name)
        out[name] = entry
        print(f"# {name}: build_run {samples[0]:.2f}s steady "
              f"{entry['steady_seconds']:.2f}s rows={rows}", file=sys.stderr)
        # checkpoint the record after EVERY query: a crash (an sf100
        # OOM killed a 45-minute run once) must never lose the
        # measurements already taken
        if args.out:
            with open(args.out, "w") as f:
                json.dump(
                    _doc(spark, args, sf, skipped, out, partial=True), f, indent=1
                )

    doc = _doc(spark, args, sf, skipped, out)
    line = json.dumps(doc)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
    print(line)


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    return s[len(s) // 2] if s else 0.0


def _spread_pct(xs: list[float]) -> float:
    """(max-min)/median of the steady samples, in percent — the
    auditability number the r11 verdict asked for (q5-family sf100
    cells must carry a <=15% spread over 5 runs)."""
    if len(xs) < 2:
        return 0.0
    med = _median(xs)
    return round(100.0 * (max(xs) - min(xs)) / med, 1) if med else 0.0


def _doc(spark, args, sf, skipped, out, partial: bool = False) -> dict:
    from mbrainz_importer_spark import budget

    doc = {
        "metric": "scale_tier_query_wall_seconds",
        "corpus": os.environ.get("SPARK_GRAFT_CORPUS", ""),
        "cold": getattr(args, "cold", False),
        "value": round(sum(e["steady_seconds"] for e in out.values()), 4),
        "unit": "sec",
        "sf": sf,
        "runs": args.runs,
        "profile": args.profile,
        # the heap and cores every budget gate read from this session
        "heap_bytes": budget.heap_bytes(spark),
        "shuffle_partitions": int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        ),
        "cores": budget.cores(spark),
        "protocol": (
            "build_run_seconds = run 1 (carries one-time layout/index "
            "builds); steady_seconds = median of the remaining runs — "
            "rank plans by steady_seconds, charge builds separately"
        ),
        "skipped": skipped,
        "queries": out,
    }
    if partial:
        doc["partial"] = True  # checkpoint mid-run; cleared on completion
    return doc


if __name__ == "__main__":
    main()
