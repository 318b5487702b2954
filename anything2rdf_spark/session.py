"""SparkSession factory with the engine's scale-oriented defaults.

AQE + skew-join on (north_rule mandate), Arrow enabled for pandas UDFs,
UTC session timezone (oracle comparison via DuckDB), shuffle partitions
sized to cores for local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Three quarters of physical memory, in MiB. A fixed heap larger than
    the host lets the JVM grow until the kernel kills it; the quarter left
    over is for the JVM's off-heap memory, the Python side and the OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys * 3 // 4 // 2**20}m"


def get_spark(
    master: str | None = None,
    app_name: str = "anything2rdf_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # in local[N], shuffle partitions ~ cores; on a real cluster this would
    # be ~2-3x total executor cores, set via spark-submit conf.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        n = n.split(",")[0]  # local[N,maxFailures] is legal Spark syntax
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep AQE's post-shuffle coalescing from collapsing small-SF test
        # runs to 1 partition (it would serialize every shuffled stage);
        # at 100 TB the default 64m advisory size is the right setting
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: the driver heap is the whole cluster's
        # memory; size it to the machine, not the default 1g (guide §Session)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        # throughput GC: measured ~15% faster than G1 on codegen-heavy
        # string workloads in this environment. SPARK_GC_OPTS overrides —
        # e.g. capping ParallelGCThreads below the (oversubscribed)
        # advertised vCPU count on burst-throttled hosts.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
    # allow a fresh master (e.g. local[8] -> local[32]) in the same process
    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession._activeSession = None  # noqa: SLF001
