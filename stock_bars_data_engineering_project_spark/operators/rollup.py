"""Incremental rollup maintenance — derived aggregates without recompute.

The reference rebuilds its entire derived analysis table on every run
(DROP + CREATE TABLE AS, even when the load failed — SURVEY Q8,
/root/reference/etl_project/assets/sql/transform/stock_bars_analysis.sql:2-3).
That is correct and simple at 210 rows; at 100 TB a daily full recompute
of a per-key daily rollup re-reads the whole fact history. The scalable
shape is a MERGEABLE rollup: keep per-group partial-aggregate STATE
(count, sum, min, max, and argmin/argmax carried as (ts, value) pairs),
fold each new batch into an increment with one partial-aggregation pass,
and combine increment with the stored state by re-aggregation on the
group keys — the same combine step Spark's own partial aggregation runs
shuffle-side, lifted to storage. Derived metrics (avg, ohlc) project
from the state at read time, so they never have to be mergeable
themselves.

Restating the invariant the test pins: for any split of the input into
batches, folding the batches ≡ one aggregation over the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# state columns per (keys) group; every one combines associatively.
# hll_state/kll_state are binary DataSketches state that merges by
# union, giving the rollup incremental distinct counts (of event_id) and
# quantiles (of value), which no exact aggregate can provide without
# re-reading history.
_STATE = (
    "n_rows",
    "sum_value",
    "min_value",
    "max_value",
    "open_ts",
    "open_value",
    "close_ts",
    "close_value",
    "hll_state",
    "kll_state",
)


def rollup_increment(batch: DataFrame) -> DataFrame:
    """One partial-aggregation pass over a batch -> mergeable state rows.

    Groups by ``user_id`` and the event day of ``ts`` (the common rollup
    grain). Besides the scalar state it carries mergeable sketch state:
    an HLL sketch of ``event_id`` (incremental distinct count) and a KLL
    sketch of ``value`` (incremental quantiles) — both fold through
    ``merge_rollups`` exactly like the scalar state.
    """
    group = [F.col("user_id"), F.to_date(F.col("ts")).alias("day")]
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min(F.struct(F.col("ts"), F.col("value")))["ts"].alias("_ots"),
        F.min(F.struct(F.col("ts"), F.col("value")))["value"].alias("_ov"),
        F.max(F.struct(F.col("ts"), F.col("value")))["ts"].alias("_cts"),
        F.max(F.struct(F.col("ts"), F.col("value")))["value"].alias("_cv"),
        F.hll_sketch_agg("event_id").alias("hll_state"),
        F.kll_sketch_agg_double("value").alias("kll_state"),
    ]
    return batch.groupBy(*group).agg(*aggs).withColumnsRenamed(
        {"_ots": "open_ts", "_ov": "open_value", "_cts": "close_ts", "_cv": "close_value"}
    )


def merge_rollups(state: DataFrame, increment: DataFrame) -> DataFrame:
    """Combine two mergeable-state frames (same schema) by
    re-aggregation on the group keys. Associative and commutative, so
    batches can fold in any order; with a day-grained rollup stored
    day-partitioned, the rewrite prunes to the days the increment
    touches (warehouse merge path)."""
    return combine_state(state.unionByName(increment))


def combine_state(both: DataFrame) -> DataFrame:
    """Re-aggregate one state frame on its group keys — the read-time
    fold of an epoch-log rollup (streaming/incremental.py stores one
    increment per micro-batch epoch; reading the table is a combine
    over all epochs). ``merge_rollups`` is this over a 2-frame union."""
    keys = [c for c in both.columns if c not in _STATE]
    aggs = [
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.min(F.struct("open_ts", "open_value"))["open_ts"].alias("_ots"),
        F.min(F.struct("open_ts", "open_value"))["open_value"].alias("_ov"),
        F.max(F.struct("close_ts", "close_value"))["close_ts"].alias("_cts"),
        F.max(F.struct("close_ts", "close_value"))["close_value"].alias("_cv"),
        F.hll_union_agg("hll_state").alias("hll_state"),
        F.kll_merge_agg_double("kll_state").alias("kll_state"),
    ]
    return both.groupBy(*[F.col(k) for k in keys]).agg(*aggs).withColumnsRenamed(
        {"_ots": "open_ts", "_ov": "open_value", "_cts": "close_ts", "_cv": "close_value"}
    )


def rollup_metrics(state: DataFrame) -> DataFrame:
    """Project the user-facing rollup (avg + OHLC) from mergeable state
    — derived at read time, so nothing non-mergeable is ever stored —
    with the incremental distinct-count estimate and the KLL n /
    extrema / median (n, min and max are exact by the sketch's
    contract; the median carries the documented ~1.65% rank-error
    bound)."""
    return state.select(
        *[c for c in state.columns if c not in _STATE],
        F.col("n_rows"),
        (F.col("sum_value") / F.col("n_rows")).alias("avg_value"),
        F.col("open_value").alias("open_v"),
        F.col("max_value").alias("high_v"),
        F.col("min_value").alias("low_v"),
        F.col("close_value").alias("close_v"),
        F.hll_sketch_estimate("hll_state").alias("uniq_est"),
        F.kll_sketch_get_n_double("kll_state").alias("kll_n"),
        F.kll_sketch_get_quantile_double("kll_state", F.lit(0.0)).alias("kll_min"),
        F.kll_sketch_get_quantile_double("kll_state", F.lit(1.0)).alias("kll_max"),
        F.kll_sketch_get_quantile_double("kll_state", F.lit(0.5)).alias("kll_q50"),
    )
