"""SparkSession construction with the engine's scale-oriented defaults.

Local mode is a single JVM; on a real cluster the same config block is what
``spark-submit --py-files`` would carry (BASELINE.json north_rule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (32 cores / 125 GB); on a 1000-executor
# cluster the shuffle-partition count scales with total cores and
# AQE coalescing trims the rest at runtime.
DEFAULT_MASTER = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"


def get_spark(
    master: str | None = None,
    app_name: str = "foundry-es-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE on: runtime shuffle coalescing + skew-join splitting are the
      backstop behind the engine's explicit salting (SURVEY.md §4.3).
    - Arrow on, capped batch size: `content` rows are multi-KB, so the
      default 10k-row Arrow batches would balloon (SURVEY.md §3.3).
    - UTC session TZ: required for DuckDB-oracle comparisons.
    - No per-call call-site capture (``spark.python.sql.dataFrameDebugging
      .enabled=false``): PySpark otherwise wraps every Column/DataFrame
      call in several py4j round trips (active-session and conf reads,
      origin set and clear), ~60 ms of driver plan-build per epoch. The
      cost: analysis errors no longer name the Python call site (the
      DataFrame query context).
    """
    master = master or DEFAULT_MASTER
    # Make the engine package importable inside Python workers (UDF /
    # mapInArrow closures reference it). Local-mode workers inherit the
    # driver process env; on a cluster `spark-submit --py-files engine.zip`
    # plays this role. Must happen before the JVM/gateway starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]")
        try:
            cores = os.cpu_count() or 8 if n in ("*", "") else int(n)
        except ValueError:
            # non-local master (spark://, yarn, k8s): the driver cannot
            # know executor width up front — size by this host and let the
            # deployer override explicitly
            cores = os.cpu_count() or 8
        shuffle_partitions = max(8, cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # 64 MB splits + 32 MB post-shuffle targets: content rows are
        # multi-KB, so finer grain keeps every core in full waves (measured
        # 24% epoch speedup at width 8 vs the 128 MB default)
        .config("spark.sql.files.maxPartitionBytes", "67108864")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # keep stdout parseable: the driver harness reads bench.py's final
        # JSON line from a bounded stdout tail — \r progress frames must
        # not share that line
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
