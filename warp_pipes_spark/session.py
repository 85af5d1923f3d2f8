"""SparkSession factory with scale-oriented defaults.

Single place to configure the engine: AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow on (vectorized pandas-UDF transfer),
shuffle partitions sized for the local harness but overridable for clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_mem() -> str:
    """About a third of the host's memory, capped at 24g: in local mode
    the driver heap is every task's heap, and a heap near the host's size
    gets the JVM OOM-killed by the kernel once it grows."""
    try:
        with open("/proc/meminfo") as f:
            mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{max(1024, min(24 * 1024, mem_kb // 1024 // 3))}m"


# SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override the host-sized defaults
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "warp-pipes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # runtime re-planning: skew-join splitting, small-partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: build a Bloom filter on the small
        # (creation) side of a shuffle join and push it into the large
        # side's scan — prunes most probe rows before the exchange on
        # selective joins (e.g. incremental dedup's batch-vs-corpus anti
        # join) with zero semantic change
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # PySpark 4 wraps EVERY DataFrame API call to capture the Python
        # call site for error enrichment: an inspect-stack walk plus two
        # extra py4j round trips (PySparkCurrentOrigin.set/clear) per
        # call. Pure driver-side overhead — measured ~30% of warm
        # DataFrame-construction time on the chattiest operators
        # (construction is half the wall time of a 239-query catalog
        # run). Error messages lose only the Python-frame annotation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Arrow for pandas UDF / mapInPandas hot paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep driver output deterministic for tests
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver heap IS the executor heap for all worker
        # threads — size it for the concurrent tasks, not for a driver
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # managed-table warehouse (bucketed tables) kept out of the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/wps-warehouse"),
        )
        .config(
            # derby home for the managed-table metastore; widened JIT code
            # cache — a long-lived session compiles hundreds of generated
            # WholeStageCodegen classes, and the JDK default (240 MB)
            # degrades to interpreted execution once full
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/wps-derby -XX:ReservedCodeCacheSize=640m",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
