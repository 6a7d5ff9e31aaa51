"""The session factory's host-derived defaults."""

from __future__ import annotations

import os

from spark_data_engineering_spark.session import default_driver_memory


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mem[:-1]) <= min(phys_mb, 24 * 1024)


def test_driver_memory_env_var_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert default_driver_memory() == "3g"
