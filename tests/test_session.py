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
