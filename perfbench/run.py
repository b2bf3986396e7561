#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {import,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The run works in a temporary directory
under `.perfbench_tmp/` (removed at exit) and caches generated corpora
under `.perfbench_cache/`, so nothing else in the checkout is written.
Spark runs in local mode on every core, with one closed-loop client (one
caller that waits for each reply).

stdout carries one line per metric (name, value, unit, sample count) and,
last, one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, from spans the benchmark records around each call into a
layer (perfbench/spans.py) and from Spark status-store deltas; the spans
are written to `.perfbench_cache/trace-<workload>-<seed>.jsonl`. A wrong
output or a failed operation makes `correct` false and the exit code 1.
A checkout without the program exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no caches in the checkout

from corpus import make_corpus
from ingest import ENTITY_TYPES
from mix import KINDS
from spans import (
    NullTracer, StageTotals, Stopwatch, Tracer, host_cpu, job_count, steal_share,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mbrainz_importer_spark"

SCALE = 0.02  # fraction of the reference subset's entity counts
# set-ups per run whose median enters setup_s: the importer's dimension
# load is cheap, the serve store build is not
SETUP_REPEATS = {"import": 3, "serve": 1}
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "op_latency_s": "s", "side_latency_s": "s",
}
# every traced run reports every per-layer metric; a layer the workload
# does not reach reports 0
PER_LAYER_UNITS = {
    **{f"pipeline.load_type_s.{t}": "s" for t in ENTITY_TYPES},
    **{f"pipeline.load_type_jobs.{t}": "count" for t in ENTITY_TYPES},
    "edn_source.read_s": "s",
    "pipeline.parse_amplification": "ratio",
    "transform.self_s": "s",
    "batching.self_s": "s",
    "idempotency.load_s": "s",
    "idempotency.done_ids_s": "s",
    "metaschema.build_s": "s",
    "query_edn.parse_s": "s",
    "datalog.compile_s": "s",
    "spark.exec_s": "s",
    "spark.jobs_per_query": "count",
    "eav.input_mb_per_query": "MB",
    "eav.rows_scanned_per_row_returned": "ratio",
    **{f"serve.{k}_p50_s": "s" for k in KINDS},
    "client.transact_s": "s",
    "client.transact_jobs": "count",
    "client.basis_t_s": "s",
    "client.log_files": "count",
    "client.db_s": "s",
    "client.q_s": "s",
    "client.request_index_s": "s",
    "tx_fns.transact_s": "s",
    "eav.merge_s": "s",
    "eav.store_bytes_rewritten": "B",
    "eav.partitions_touched": "count",
    "eav.write_amplification": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.op_latency_s": "s",
    "trace.window_s": "s",
    "host.steal_pct": "%",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["import", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def corpus_dir(seed: int, scale: float):
    """Write the seeded corpus once per (seed, scale); return it and its model."""
    c = make_corpus(seed, scale)
    path = os.path.join(ROOT, ".perfbench_cache", f"corpus-s{seed}-x{scale}")
    if not os.path.exists(os.path.join(path, "_COMPLETE")):
        shutil.rmtree(path, ignore_errors=True)
        c.write(path)
        open(os.path.join(path, "_COMPLETE"), "w").close()
    return path, c


def start_spark(tmp: str):
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # no TPC-H corpus: the session's shuffle floor must not depend on
        # whether one happens to exist on the machine
        "SPARK_GRAFT_SF_DIR": os.path.join(tmp, "no-sf"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        # Python workers start in the run's directory and import the
        # program from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    from mbrainz_importer_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_process(spark) -> subprocess.Popen | None:
    return getattr(spark.sparkContext._gateway, "proc", None)


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM's."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    proc = jvm_process(spark)
    return py + (_vm_hwm_mb(proc.pid) if proc is not None else 0.0)


def stop_spark(spark) -> None:
    proc = jvm_process(spark)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def release_dead_blocks(spark) -> None:
    """Hand retired cache/checkpoint blocks to Spark's cleaner between set-up
    and measurement, outside every timed region."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(args) -> int:
    sys.path.insert(0, ROOT)  # the program, imported by the workloads

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.chdir(tmp)
    spark = None
    try:
        basedir, corpus = corpus_dir(args.seed, SCALE)
        sw = Stopwatch()
        spark = start_spark(tmp)
        session_s = sw.seconds()

        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        if args.workload == "import":
            from ingest import Import

            wl = Import(spark, corpus, basedir, tmp, tracer)
        else:
            from serve import Serve

            wl = Serve(spark, corpus, args.seed, tmp, tracer)
        wl.setup(SETUP_REPEATS[args.workload])
        setup_s = session_s + statistics.median(wl.setup_parts) + wl.warmup_s
        release_dead_blocks(spark)

        with contextlib.ExitStack() as stack:
            if args.trace:
                wl.instrument(stack)
            j0, s0, c0 = job_count(spark), StageTotals.harvest(spark), host_cpu()
            t0 = time.perf_counter()
            wl.run(args.seconds)
            window_s = time.perf_counter() - t0
            steal = 100.0 * steal_share(c0, host_cpu())
            jobs, stages = job_count(spark) - j0, StageTotals.harvest(spark) - s0

        if args.trace:
            measured = wl.per_layer() if wl.failed == 0 else {}
            measured.update({
                "spark.jobs": jobs, "spark.tasks": stages.tasks,
                "spark.task_s": stages.task_s, "spark.gc_s": stages.gc_s,
                "spark.shuffle_write_mb": stages.shuffle_write_mb,
                "spark.spill_mb": stages.spill_mb,
                "trace.window_s": window_s,
                "host.steal_pct": steal,
            })
            traced = wl.end_to_end()
            if "op_latency_s" in traced:
                measured["trace.op_latency_s"] = traced["op_latency_s"]
            unknown = set(measured) - set(PER_LAYER_UNITS)
            if unknown:
                raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
            metrics = {k: measured.get(k, 0) for k in PER_LAYER_UNITS}
            units = PER_LAYER_UNITS
            tracer.write(os.path.join(
                ROOT, ".perfbench_cache", f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb(spark),
                       **wl.end_to_end()}
            units = END_TO_END_UNITS
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run is live
            os.rmdir(os.path.dirname(tmp))

    for err in wl.errors:
        print(f"# FAILED: {err}", file=sys.stderr)
    samples = wl.samples()
    print(f"# workload={args.workload} seed={args.seed} samples={samples} "
          f"input_rows={corpus.total_input_rows} window_s={window_s:.1f} "
          f"host_steal={steal:.1f}%")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    correct = wl.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
