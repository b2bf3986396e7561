"""SparkSession factory tuned for both local testing and cluster scale.

The knobs mirror what the reference hand-tunes (SURVEY.md §4): bounded
memory via partition sizing instead of channel buffers
(reference: src/datomic/mbrainz/importer.clj:289,310), explicit parallelism
instead of `concurrency 3` (config/manifest.edn.example:10), and the whole
optimizer layer (broadcast, pruning, AQE) delegated to Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "mbrainz_importer_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    Defaults chosen for 100 TB readiness, all safe on local[n]:
      - AQE on: runtime coalescing of shuffle partitions, skew-join
        splitting, and dynamic join-strategy switching.
      - Arrow on: every pandas_udf / applyInPandas crosses the JVM<->Python
        boundary in columnar batches.
      - Broadcast threshold raised so dimension tables always broadcast
        (the reference holds every enum table in memory on the single node;
        we hold them on every executor).
    """
    cpus = default_parallelism()
    static_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # partition-sizing contract: shuffle partitions default to the
        # core count (right for the sf0.1 test tier) and scale up via
        # SPARK_GRAFT_SHUFFLE_PARTITIONS so per-task shuffle blocks stay
        # memory-sized at larger tiers — the knob a cluster deployment
        # turns with data volume (brief: "size spark.sql.shuffle.partitions
        # so partitions fit in executor memory at the target SF")
        .config("spark.sql.shuffle.partitions", str(static_partitions))
        # a tier's AQE floor overrides the static count (budget.initial_partition_floor)
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(static_partitions)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE's RUNTIME broadcast switch sees post-shuffle COMPRESSED
        # sizes; narrow-row frames (candidate pairs: two longs) expand
        # 10-20x when deserialized into a broadcast relation, so a
        # 64 MB runtime threshold can hand the executor heap a
        # multi-GB build (measured: dedup_lsh_verified's 27M-pair
        # frame OOMed the sf10 refresh). 16 MB keeps runtime switches
        # within heap at every tier; dimension broadcasts are explicit
        # F.broadcast calls and unaffected.
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(16 * 1024 * 1024),
        )
        # runtime bloom-filter pruning: a selective join side injects a
        # bloom filter into the probe-side scan (row-level runtime
        # filtering) — irrelevant at sf0.1, a large win on 100 TB facts
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # trust sortBy metadata on bucketed scans: off by default since
        # Spark 3.0 because multi-file buckets make the planning-time
        # file listing wasted work — but every bucketed write in this
        # repo pre-shuffles to ONE sorted file per bucket exactly so the
        # sort is trustworthy (sources/bucketed.py:write_bucketed), and
        # with the flag off that discipline buys nothing: every bucketed
        # SMJ re-Sorts both pre-sorted sides (at fact scale, a spilling
        # sort of data that is already in order on disk)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local mode defaults spark.task.maxFailures to 1 — a single
        # transient task OOM (32 threads sharing an 8g heap at the
        # fact-scale tiers) kills the whole job, where every real
        # cluster retries (default 4). Match the production posture:
        # a retried task re-runs against freed memory and succeeds
        # (observed live on the sf10g triangle derivation, r12).
        .config("spark.task.maxFailures", "4")
        # PySpark 4's DataFrame debugging captures the Python call site
        # on EVERY Column operation and ships it to the JVM (2-3 py4j
        # round-trips per op, pyspark/errors/utils.py:_with_origin) so
        # error messages can show a "DataFrame context" line. On
        # expression-heavy plans that is SECONDS of serial driver time
        # per query construction (measured r13: the IVF cell-assign
        # expression built in 3.2s with it, 1.3s without; zero effect
        # on plans or results — only error-message call-site info).
        # Off here; flip on when debugging a query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The ContextCleaner only reclaims unreferenced cache/checkpoint
        # blocks when a DRIVER GC runs; its safety-net periodic GC
        # defaults to 30min — longer than many whole workloads. The
        # iterative operators (graph rounds, datalog fixpoints, stream
        # replays) retire localCheckpoint blocks every round, so under
        # the default a long session accumulates dead blocks in the
        # storage pool, squeezing execution memory until ad-hoc full
        # GCs happen (measured r13: late-bench job-heavy queries
        # inflated 2-3x at 8g, back to standalone times once the pool
        # was clear). 2min bounds the dead-block residency at ANY
        # scale; the GC itself is a no-op when nothing is dead.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
