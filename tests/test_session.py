"""The session factory's driver-heap default."""

from __future__ import annotations

import os

from stock_bars_data_engineering_project_spark.session import driver_memory


def test_default_driver_heap_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = driver_memory()
    assert heap.endswith("m")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(heap[:-1]) * 2**20 < phys
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
