"""Fault injection for the warehouse's commit protocol: a subprocess
writer is killed with ``os._exit`` part-way through a write, and the
table must read as its last committed version, heal on the next write,
and lose the orphan to ``vacuum`` without losing any live file; and the
hardlink carry-over never writes over a file already in place."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from stock_bars_data_engineering_project_spark.sinks import ParquetWarehouse, warehouse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Appends a batch to table "t", and dies after the second hardlink of
# the carry-over: the batch is written, part of the prior snapshot is
# linked, the pointer is not flipped.
_CRASH_MID_CARRY_OVER = """
import os, sys
from stock_bars_data_engineering_project_spark.session import get_spark
from stock_bars_data_engineering_project_spark.sinks import ParquetWarehouse

spark = get_spark("crash")
wh = ParquetWarehouse(spark, sys.argv[1])
link, done = os.link, []

def dying_link(src, dst):
    link(src, dst)
    done.append(dst)
    if len(done) == 2:
        os._exit(3)

os.link = dying_link
wh.append(spark.range(100, 110), "t")
"""


def _ids(wh, version=None):
    return sorted(r.id for r in wh.read("t", version).collect())


def test_append_killed_mid_carry_over(spark, tmp_path, monkeypatch):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 40).repartition(4), "t")
    v1 = wh.latest_version("t")
    v1_inodes = {os.stat(f).st_ino for f in wh.data_files("t")}
    assert len(v1_inodes) == 4

    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "512m",
    }
    run = subprocess.run(
        [sys.executable, "-c", _CRASH_MID_CARRY_OVER, wh.root],
        env=env,
        capture_output=True,
        text=True,
    )
    assert run.returncode == 3, run.stderr[-2000:]

    # the kill hit mid carry-over: the orphan holds the batch and two of
    # v1's four files, and the pointer still names v1
    (orphan,) = [v for v in wh.versions("t") if v != v1]
    odir = os.path.join(wh.table_path("t"), orphan)
    linked = [
        n
        for n in os.listdir(odir)
        if n.endswith(".parquet") and os.stat(os.path.join(odir, n)).st_ino in v1_inodes
    ]
    assert len(linked) == 2
    assert wh.latest_version("t") == v1

    # readers see exactly the last committed rows
    assert _ids(wh) == list(range(40))

    # the next append takes a fresh version and reads the full union
    wh.append(spark.range(200, 210), "t")
    live = wh.latest_version("t")
    assert live not in (v1, orphan)
    assert _ids(wh) == list(range(40)) + list(range(200, 210))

    # vacuum reaps the orphan (and v1); the live version, whose files
    # are partly v1's inodes, still reads whole
    monkeypatch.setattr(warehouse, "VACUUM_KEEP_LAST", 1)
    wh.vacuum("t")
    assert wh.versions("t") == [live]
    assert _ids(wh) == list(range(40)) + list(range(200, 210))


def test_carry_over_refuses_a_name_clash(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 10).repartition(1), "t")
    v1 = wh.latest_version("t")
    (name,) = [os.path.basename(f) for f in wh.data_files("t")]
    clash = os.path.join(wh.table_path("t"), "v000002", name)
    os.makedirs(os.path.dirname(clash))
    with open(clash, "wb") as f:
        f.write(b"other")
    with pytest.raises(FileExistsError):
        wh._carry_over("t", v1, "v000002", 0, set())
    with open(clash, "rb") as f:
        assert f.read() == b"other"
