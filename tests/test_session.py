"""The session factory's driver-heap and core-count defaults."""

from __future__ import annotations

import os

from stock_bars_data_engineering_project_spark.session import driver_memory, local_cpus


def test_default_driver_heap_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = driver_memory()
    assert heap.endswith("m")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(heap[:-1]) * 2**20 < phys
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_local_cpus_follows_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
