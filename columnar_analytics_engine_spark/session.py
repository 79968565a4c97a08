"""SparkSession factory with scale-oriented defaults.

The reference engine is single-threaded in one process
(columnar-analytics-engine/src/execution.cpp, README "Limitations").
Here the execution substrate is Spark: these configs are chosen so the
same declarative plans that pass correctness on local[32] would hold on
a 1000-executor cluster reading 100 TB — AQE for runtime re-planning
(partition coalescing, skew-join splitting), parquet filter pushdown and
vectorized reads for zone-map-style data skipping, and Arrow for any
Python-side batch exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Scale-relevant defaults.  Values that depend on cluster size
# (shuffle.partitions) are set to the local core count here; on a real
# cluster they are superseded by AQE's coalescing which right-sizes
# post-shuffle partitions at runtime.
_DEFAULT_CONFS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert sort-merge→broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing merges post-shuffle partitions below this floor even
    # in parallelism-first mode.  The 1 MB default serializes CPU-dense
    # small-BYTES stages: a distinct-vocabulary exchange of a few MB
    # coalesces to 1-2 tasks, and the md5/affine k-family result
    # projection that Catalyst collapses into the aggregate then runs
    # single-threaded (reproduced: one 200 s task, 31 idle cores, in the
    # minhash vocabulary stage).  64 KB keeps tiny-bytes/heavy-CPU stages
    # wide at test scale; at 100 TB the advisory size (64 MB) governs
    # long before this floor matters.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "65536",
    # Zone-map style data skipping (the reference's Predicate::canSkipPage,
    # src/execution.cpp:48-71) is parquet row-group pruning here.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Arrow for pandas_udf / toPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Non-ANSI keeps SUM overflow wraparound semantics compatible with the
    # reference (src/execution.cpp:314 sums int64 unchecked).
    "spark.sql.ansi.enabled": "false",
    # ~128 MB scan splits: good default for 100 TB parquet reads.
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def _default_driver_mem() -> str:
    """48 GiB, capped at half the physical memory: a JVM whose max heap
    exceeds RAM grows instead of collecting until the OS kills it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, min(48 * 1024, phys_mb // 2))}m"


def get_spark(
    app_name: str = "columnar_analytics_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``) so tests and bench share one code path; on a real
    cluster pass ``master=None`` with a pre-configured spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
    )
    # Whole-stage codegen emits very large methods for wide plans (k=32
    # MinHash aggregates, 48-bit SimHash sums, deep CASE towers); the JVM
    # default 240 MB code cache fills after a few such plans, the JIT shuts
    # off ("CodeCache is full. Compiler has been disabled"), and every later
    # query runs interpreted — measured 10x slowdown on repeated pipeline
    # runs.  1 GiB keeps steady-state compilation on for the whole suite.
    builder = builder.config(
        "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g"
    )
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_bounded_window_warnings(spark)
    return spark


def _quiet_bounded_window_warnings(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined ... serious
    performance degradation" warning — for THIS repo it is noise, not
    signal: every unpartitioned window in the registry is machine-
    verified bounded by the full-registry lint sweep
    (``plans/lint.global_windows`` + tests/test_plan_lint.py
    ``test_global_windows_bounded`` — each is either plan-provably
    LIMIT-bounded or allowlisted with a topology-bound reason), so a
    NEW data-sized global window fails CI rather than scrolling past
    in a bench tail.  Keeping the warning on only trains readers to
    ignore it — the lint is the enforcement, this is the noise
    control."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec", level
        )
    except Exception:
        pass  # non-log4j2 runtime: warnings stay, lint still enforces
