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


# C2 (tier-4) compile thresholds, ten times HotSpot's defaults (5000, 600,
# 15000, 40000). A CLI request spends most of its CPU in Catalyst analysis,
# optimization and planning: code that runs a few thousand times per plan
# and then stops, which C2 compiles anyway at the defaults. Measured from
# the JVM's per-thread ticks on a 4-vCPU host (cli_edit's simplify request
# on a 16-county grid, 512m heap), the compiler threads took 6.6 of the
# first warm request's 9.6 s of JVM CPU, and C2 alone 24 of the cold
# request's 48 s. Tenfold keeps planner code in C1 while per-row loops,
# which run millions of times, still reach C2. Over ten benchmark pairs a
# warm request's CPU fell from 7.5 to 5.5 s and a cold one's from 43 to
# 33 s; a warm 5M-row tile-count scan kept its CPU (15.9 -> 15.4 s). The
# cost is latency: the driver thread runs C1 code where C2 code would
# have been ready, and compiling used to overlap it on idle cores, so a
# warm request's wall time rose about 12%. C1 only
# (-XX:TieredStopAtLevel=1) doubled the scan's CPU;
# -XX:CompileThresholdScaling=10 also delays C1 and was slower per request.
# Java floating point is strict since JDK 17 (JEP 306): the tier a method
# runs in cannot change a result.
_JIT_THRESHOLDS = ("-XX:Tier4InvocationThreshold=50000 "
                   "-XX:Tier4MinInvocationThreshold=6000 "
                   "-XX:Tier4CompileThreshold=150000 "
                   "-XX:Tier4BackEdgeThreshold=400000")


def driver_java_opts() -> str:
    """The local-mode JVM's options: the JIT thresholds above, then
    ``MS_DRIVER_JAVA_OPTS`` (e.g. a GC flag). The JVM keeps the last value
    of a repeated ``-XX`` flag, so the variable overrides any threshold."""
    extra = os.environ.get("MS_DRIVER_JAVA_OPTS", "").strip()
    return f"{_JIT_THRESHOLDS} {extra}" if extra else _JIT_THRESHOLDS


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
        .config("spark.driver.extraJavaOptions", driver_java_opts())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
