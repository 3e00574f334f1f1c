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
