"""C1/C2 — high-watermark checkpointing for incremental loads.

Mirrors the reference's ``check_points`` table — one row per source
table, PK ``table_name``, upserted each run
(/root/reference/etl_project/utilities/utilities.py:8-49) — as a keyed
merge into the warehouse. The watermark is stored as an ISO-8601 string
exactly like the reference (its lexicographic order is chronological),
and read back for the Q9 overlap-inclusive restart.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame
from .warehouse import ParquetWarehouse

CHECKPOINT_TABLE = "check_points"


def get_checkpoint(wh: ParquetWarehouse, table_name: str) -> str | None:
    """C1: latest watermark for ``table_name``, or None when absent
    (utilities.py:8-22). F1's equality predicate, pushed to the scan."""
    if not wh.exists(CHECKPOINT_TABLE):
        return None
    rows = (
        wh.read(CHECKPOINT_TABLE)
        .filter(F.col("table_name") == table_name)
        .select("latest_timestamp")
        .collect()
    )
    return rows[0][0] if rows else None


def save_checkpoint(wh: ParquetWarehouse, table_name: str, latest_timestamp: str) -> None:
    """C2: upsert (table_name, latest_timestamp) — the reference's raw
    ON CONFLICT DO UPDATE (utilities.py:24-49) as a keyed merge."""
    row = local_frame(
        wh.spark,
        [(table_name, latest_timestamp)],
        "table_name string, latest_timestamp string",
    )
    wh.merge(row, CHECKPOINT_TABLE, keys=("table_name",))
