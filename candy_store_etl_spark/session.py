"""SparkSession factory with scale-appropriate defaults.

The settings below are the ones that matter at 100 TB and cost nothing
locally:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion) — ``spark.sql.adaptive.*``;
- Arrow for every pandas-UDF boundary (allocation, forecasting,
  similarity operators are Arrow-batched, never row-at-a-time);
- UTC session timezone so results are reproducible and comparable
  against external engines (DuckDB oracle, downstream warehouses);
- shuffle partitions sized to the local core count — on a real
  cluster AQE coalesces from a deliberately high initial number;
- a generated-code cache that holds the engine's working set
  (``spark.sql.codegen.cache.maxEntries``, below).

The generated-code cache is the one JVM-wide LRU of the classes Janino
compiles for whole-stage codegen and expressions; Spark's default of
100 entries is smaller than any session here that repeats work, so a
repeated batch recompiled its classes on every run and the JIT
re-optimised them. Distinct generated classes, measured with the cache
unbounded (CodegenMetrics compile count; 4 cores, Spark 4.1):

- candy pipeline, benchmark session (100 day files): 100, of which a
  steady pass touches ~45 (~45 recompiles a pass at the default);
- the 13 curation queries at sf0.1, benchmark session: 313 (~300
  recompiles a pass at the default);
- bench.py, 38 headline queries best-of-3 at sf0.1: 700;
- the test suite's shared session (tests/), the largest: 4026 (~9,000
  compiles at the default).

Guava splits the cache into four segments and evicts per segment, so it
starts evicting before the nominal size; 6000 entries leave each
segment ~1.5x its share of the largest count. A kept class costs
metaspace (off-heap), not heap: the benchmark's peak RSS did not move.
The setting is a static conf, read once per JVM when code is first
generated, so it only reaches sessions this function builds; a session
built elsewhere (e.g. a harness's own ``SparkSession.builder``) has to
set it at creation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "candy-store-etl-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    On a cluster, drop the ``.master`` call and the file-listing
    threshold and submit with ``spark-submit``; every other setting
    carries over unchanged.
    """
    n = cpus or DEFAULT_CPUS
    # Python-worker path hygiene (r13, measured): pyspark's worker runs
    # importlib.invalidate_caches() per TASK, and with $SPARK_HOME's
    # pyspark.zip/py4j.zip on the worker path each call eagerly
    # re-parses both archives' central directories (~60% of worker
    # main(), ~156 ms cpu per task — the single largest per-task
    # constant behind the 8-cores-beats-32 sf0.1 scaling block). The
    # shipped sitecustomize prunes the zips at worker startup ONLY
    # when an unpacked pyspark of the identical version resolves
    # without them (see workerenv/sitecustomize.py); the env var
    # below disables it. Cluster-valid: any deployment whose workers
    # carry both a zip and an unpacked install pays the same per-task
    # tax at any scale.
    worker_site = os.path.join(os.path.dirname(__file__), "workerenv")
    worker_pythonpath = os.pathsep.join(
        p for p in (worker_site, os.environ.get("PYTHONPATH")) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # sized to the working set, see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "6000")
        # Local mode only: a read of more than 32 paths (the default
        # threshold; the candy pipeline passes one path per day) lists
        # them in a Spark job, one task per path, on the same cores
        # the driver would list them on. Measured on the 100-day candy
        # pass (4 cores): the 100-task job and its plan-build time go
        # (193 -> 93 tasks, plan build 0.86 -> 0.43 s). On a cluster the
        # executors list in parallel; keep the default there.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # PySpark 4's DataFrame debugging wraps EVERY DataFrame/Column
        # API call with a conf read + PySparkCurrentOrigin.set/clear
        # (3 extra py4j round trips) plus a Python stack walk, purely
        # to decorate error messages with the user call site. Measured
        # r12: 46-59% of plan-CONSTRUCTION time on expression-heavy
        # queries (minhash build 1.58 s -> 0.86 s, bloom decontaminate
        # 0.88 s -> 0.36 s). A resident engine building thousands of
        # plans pays this on every one; errors still raise with full
        # JVM context, only the pretty call-site line is lost — and an
        # interactive/debug consumer can recover it without editing
        # source: SPARK_GRAFT_DF_DEBUG=true (r12 advice).
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUG", "false"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
