"""Retention from stored Theta sketch state — day-over-day set
expressions without joining the raw fact rows.

The reference's only aggregate surfaces are exact (COUNT/MAX in
/root/reference/etl_project/assets/assets.py and the full-refresh rollup in
assets/sql/transform/stock_bars_analysis.sql). Exact member sets do not
maintain incrementally: "users retained day-over-day" over raw rows is a
join of per-day member lists, and a 100 TB fact table makes that the
dominant cost.

**Theta** (``theta_sketch_agg`` / ``theta_union_agg`` /
``theta_intersection``, first-class Spark 4.x SQL aggregates) is a
distinct-count state that supports set EXPRESSIONS on the states
themselves — |A ∩ B|, |A \\ B| — so retention is answered from per-day
state alone. Below the nominal-entries threshold (default 2^12) the
sketch is in exact mode. The state is a BINARY column: it persists
through parquet and combines by re-aggregation on its day key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def member_day_sets(df: DataFrame) -> DataFrame:
    """Per-day Theta state of the member set — the stored input to
    retention/churn set expressions. One partial-aggregating pass; the
    result is O(days) rows of bounded-size state, mergeable across
    batches via ``theta_union_agg`` (grain (day,), no extra keys)."""
    return df.groupBy(F.to_date(F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.theta_sketch_agg("user_id").alias("theta_state"),
    )


def retention_day_over_day(day_sets: DataFrame) -> DataFrame:
    """Day-over-day retention from per-day Theta state only — no raw
    fact rows touched. For each day d with a preceding day d-1 in the
    state: active members, retained (|prev ∩ cur|), new
    (|cur| - retained), churned (|prev| - retained).

    The self-join is at DAY grain — O(days) rows of sketch state by
    construction — so the broadcast is bounded no matter how large the
    underlying fact table is; this is the point of doing retention on
    stored sketch state rather than on the member lists themselves."""
    prev = F.broadcast(
        day_sets.select(
            F.col("day").alias("_prev_day"),
            F.col("theta_state").alias("_prev_state"),
        )
    )
    joined = day_sets.join(
        prev, F.date_add(F.col("_prev_day"), 1) == F.col("day"), "inner"
    )
    inter = F.theta_sketch_estimate(
        F.theta_intersection("_prev_state", "theta_state")
    )
    return joined.select(
        "day",
        F.theta_sketch_estimate("theta_state").alias("active"),
        F.theta_sketch_estimate("_prev_state").alias("prev_active"),
        inter.alias("retained"),
        (F.theta_sketch_estimate("theta_state") - inter).alias("new_members"),
        (F.theta_sketch_estimate("_prev_state") - inter).alias("churned"),
    )
