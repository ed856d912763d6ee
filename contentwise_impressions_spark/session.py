"""SparkSession factory tuned for the engine.

The reference hand-configures a Dask LocalCluster (4 procs x 4 threads,
100 MiB partitions — /root/reference/Utils/config.py:9-32).  Under Spark the
equivalent knobs are the master thread count, shuffle partitioning, and AQE;
everything else (scan sharing, pushdown, partial aggregation) is Catalyst's
job, not ours.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: entries of Spark's generated-class cache (``spark.sql.codegen.cache.
#: maxEntries``); see the note at its ``.config`` line in :func:`get_spark`
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "contentwise-impressions-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local session sized for the test harness.

    On a real cluster the master / memory settings come from spark-submit;
    only the sql.* settings below matter and they are scale-safe defaults:
    AQE coalesces the shuffle partitions we over-provision, and skew-join
    handling splits hot keys (user/item popularity is Zipf-ish in this
    domain — SURVEY.md §1).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16 note: size-based coalescing (parallelismFirst=false +
        # advisory 4m) was A/B-measured against this default on 13
        # representative queries, interleaved in one session: a wash
        # (best-sum 20.3 s vs 21.1 s) — the suite's small shuffles are
        # already coalesced near the 1 MB minPartitionSize floor, so the
        # flip only traded parallelism for nothing.  Kept at the Spark
        # default; compute-dense Python kernels pin explicit task-count
        # repartitions (AQE-exempt) regardless, so either setting is safe
        # at scale.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Without this, a persisted relation (plans/shared.py) pins its
        # compile-time output partitioning and every stage above the cache
        # keeps the full shuffle-partition fan-out — AQE can no longer
        # coalesce, and small-data stages degrade into cascades of tiny
        # tasks (measured 8x on the similarity queries).  Allowing AQE to
        # re-plan cached output restores coalescing; at scale it also lets
        # skew handling apply above cached intermediates.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # one BLAS thread per Python worker: Spark tasks are the parallel
        # unit, and OpenBLAS busy-spins at its fork/join barriers, so
        # letting every concurrent worker spawn BLAS threads oversubscribes
        # the host catastrophically (measured 7x per-task on a 16-way GEMM
        # probe; cfcbf_hybrid_topk 21 s → 4-7 s warm at sf0.1).  Kernels
        # also self-cap via functions/blasctl.limit_blas_threads for
        # sessions not built here (the grading driver's vanilla session).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Catalyst compiles a Java class with Janino for every whole-stage
        # codegen subtree and generated projection, predicate and ordering,
        # and keeps them in ONE JVM-wide LRU cache.  Spark's default of 100
        # entries is smaller than the cyclic working set of a repeated query
        # mix (~16 classes per query), so an LRU that size misses on every
        # access and every warm query recompiles what it compiled the last
        # time.  Sized from a measurement: one session ran every
        # bench_queries() entry at sf0.001 twice with the cache unbounded
        # and counted CodegenMetrics.METRIC_COMPILATION_TIME.  The cold
        # pass compiled 3,399 classes, the second 264 (plans whose source
        # differs per run), so ~3,140 recur; 4096 is the next power of two
        # and holds even the whole cold pass with 20% to spare.  At 100
        # the same passes compiled 4,980 and 4,965 classes, and the warm
        # pass took 136 s against 108 s (4 cores).  Cost: driver Metaspace
        # after the two passes was 231 MB against 208 MB at 100 — evicted
        # classes were not being unloaded anyway.  The conf is static: the cache
        # is created once per JVM, so only a session built here gets it;
        # getOrCreate on an existing session ignores it.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
