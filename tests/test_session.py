"""Session defaults fit the host they run on."""

import os

from mapshaper_spark import session


def test_driver_memory_default_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("MS_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = session.driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(48 * 1024, ram_mb // 4)


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("MS_DRIVER_MEM", "512m")
    assert session.driver_memory() == "512m"


def test_local_cpus_default_is_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == str(len(os.sched_getaffinity(0)))


def test_local_cpus_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == "3"


def test_local_cpus_without_affinity_uses_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    assert session.local_cpus() == str(os.cpu_count())


JIT_FLAGS = ["-XX:Tier4InvocationThreshold=50000",
             "-XX:Tier4MinInvocationThreshold=6000",
             "-XX:Tier4CompileThreshold=150000",
             "-XX:Tier4BackEdgeThreshold=400000"]


def test_driver_java_opts_default_is_the_jit_thresholds(monkeypatch):
    monkeypatch.delenv("MS_DRIVER_JAVA_OPTS", raising=False)
    assert session.driver_java_opts().split() == JIT_FLAGS


def test_driver_java_opts_env_follows_the_defaults(monkeypatch):
    # the JVM keeps the last value of a repeated -XX flag: the variable's
    # flags come last so they override a default threshold
    monkeypatch.setenv("MS_DRIVER_JAVA_OPTS",
                       " -XX:+UseParallelGC -XX:Tier4CompileThreshold=15000 ")
    assert session.driver_java_opts().split() == JIT_FLAGS + [
        "-XX:+UseParallelGC", "-XX:Tier4CompileThreshold=15000"]


def test_live_jvm_runs_with_the_jit_thresholds(spark):
    """The flags reach the JVM's command line, not just the session conf."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    assert all(flag in args for flag in JIT_FLAGS)
