"""SparkSession factory with the settings this engine relies on.

Scale posture: these configs are what we would ship in spark-defaults on a
1000-executor cluster — AQE on (runtime skew-join + partition coalescing),
Arrow on (every geometry kernel crosses to Python as Arrow batches), and a
shuffle-partition count sized to the local test harness (on a real cluster
AQE coalesces from a high initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``MS_DRIVER_MEM``, else a quarter of physical RAM (the JVM's own
    default heap share), at most 48g. The heap must fit the host: a 48g
    default on a small host lets the one local-mode JVM grow until the
    kernel kills it instead of collecting."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("MS_DRIVER_MEM") or f"{min(48 * 1024, ram_mb // 4)}m"


def local_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on (its
    CPU affinity, which containers and taskset narrow below the machine's
    core count; the core count where affinity is not exposed)."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return os.environ["SPARK_GRAFT_CPUS"]
    if hasattr(os, "sched_getaffinity"):  # Linux only
        return str(len(os.sched_getaffinity(0)))
    return str(os.cpu_count() or 1)


def get_spark(
    app_name: str = "mapshaper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("MS_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = one JVM for driver + all executor threads; size the
        # heap for the thread count or allocation-heavy stages GC-thrash
        # (observed: 32 threads in 8g ran 2x SLOWER than 8 threads)
        .config("spark.driver.memory", driver_memory())
        # GC knob for the local-mode JVM (MS_DRIVER_JAVA_OPTS, e.g.
        # "-XX:+UseParallelGC"): at high thread counts the allocation rate
        # of scan-heavy stages makes collector choice measurable
        .config("spark.driver.extraJavaOptions",
                os.environ.get("MS_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
