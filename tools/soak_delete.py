"""Scaling soak for the warehouse's partition-pruned ``delete_where``.

Scales the table (64 hive partitions of ROWS_PER_PARTITION x scale
rows) while the deleted slice stays fixed, and times two deletes
at each scale:

- t_delete_scoped_s — a predicate on the partition column plus a value
                      bound: the discovery scan partition-prunes, so the
                      whole delete is O(touched);
- t_delete_value_s  — a value-only predicate: discovery is an O(table)
                      pushdown scan, the rewrite is still O(touched).

Usage: python tools/soak_delete.py [scales ...]   (default 1 2 4 8)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stock_bars_data_engineering_project_spark.session import get_spark  # noqa: E402
from stock_bars_data_engineering_project_spark.sinks.warehouse import (  # noqa: E402
    ParquetWarehouse,
)

ROWS_PER_PARTITION = 4000


def soak_delete(spark, root: str, scale: int) -> dict:
    """One scale's row of the soak (module docstring)."""
    n_rows = 64 * ROWS_PER_PARTITION * scale
    wh = ParquetWarehouse(spark, os.path.join(root, f"d{scale}"))
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % 64).cast("int").alias("bucket")
    )
    wh.overwrite(df, "t", partition_by=("bucket",))
    t0 = time.perf_counter()
    n1 = wh.delete_where("t", (F.col("bucket") == 7) & (F.col("id") < 5000))
    t_scoped = time.perf_counter() - t0
    t0 = time.perf_counter()
    n2 = wh.delete_where("t", F.col("id") % 997 == 13)  # value-only
    t_value = time.perf_counter() - t0
    return {
        "scale": scale,
        "rows": n_rows,
        "t_delete_scoped_s": round(t_scoped, 2),
        "t_delete_value_s": round(t_value, 2),
        "touched_scoped": n1,
        "touched_value": n2,
    }


def main() -> None:
    scales = [int(a) for a in sys.argv[1:]] or [1, 2, 4, 8]
    root = "/tmp/soak_delete"
    shutil.rmtree(root, ignore_errors=True)
    spark = get_spark("soak_delete")
    for s in scales:
        print(json.dumps(soak_delete(spark, root, s)), flush=True)
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
