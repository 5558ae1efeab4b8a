"""Incremental rollup maintenance: folding batches must equal one
aggregation over the union, for any batch split and fold order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.rollup import (
    merge_rollups,
    rollup_increment,
    rollup_metrics,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _collect(df):
    """Order-insensitive rows with floats normalized to 9 significant
    digits: FP addition is not associative, so sum/avg differ in the
    last ulp between fold orders — a property of floating point, not of
    the rollup (store decimals if exact cross-order sums are needed)."""
    cols = sorted(df.columns)

    def norm(v):
        return float(f"{v:.9g}") if isinstance(v, float) else str(v)

    return sorted(
        (tuple(norm(r[c]) for c in cols) for r in df.collect()), key=repr
    )


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events").select("event_id", "ts", "user_id", "value")


def test_incremental_fold_equals_full_recompute(spark, events):
    full = rollup_increment(events)
    b1 = events.filter(F.col("event_id") % 3 == 0)
    b2 = events.filter(F.col("event_id") % 3 == 1)
    b3 = events.filter(F.col("event_id") % 3 == 2)
    folded = merge_rollups(
        merge_rollups(rollup_increment(b1), rollup_increment(b2)),
        rollup_increment(b3),
    )
    assert _collect(rollup_metrics(folded)) == _collect(rollup_metrics(full))


def test_fold_order_does_not_matter(spark, events):
    b1 = events.filter(F.col("event_id") % 2 == 0)
    b2 = events.filter(F.col("event_id") % 2 == 1)
    ab = merge_rollups(rollup_increment(b1), rollup_increment(b2))
    ba = merge_rollups(rollup_increment(b2), rollup_increment(b1))
    # the scalar state is order-free; the sketches' serialized bytes
    # need not be, so they are compared through their projections
    sketches = ("hll_state", "kll_state")
    assert _collect(ab.drop(*sketches)) == _collect(ba.drop(*sketches))
    assert _collect(rollup_metrics(ab)) == _collect(rollup_metrics(ba))


def test_metrics_match_direct_ohlc(spark, events):
    """The state-projected OHLC equals a direct min_by/max_by daily
    aggregation over the raw events."""
    got = rollup_metrics(rollup_increment(events)).select(
        "user_id", "day", "open_v", "high_v", "low_v", "close_v", "n_rows"
    )
    want = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.min_by("value", F.struct("ts", "value")).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", F.struct("ts", "value")).alias("close_v"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    assert _collect(got) == _collect(want)


def test_sketch_extended_fold_equals_direct(spark, events):
    """The state carries HLL/KLL sketch columns
    through the same fold; the projected estimates must equal a direct
    single-pass build (HLL union is register-identical; KLL groups here
    are below k=200, so no compaction and exact quantiles)."""
    full = rollup_metrics(rollup_increment(events))
    parts = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    folded = rollup_increment(parts[0])
    for p in parts[1:]:
        folded = merge_rollups(folded, rollup_increment(p))
    got = rollup_metrics(folded)
    assert _collect(got) == _collect(full)
    # hard sketch laws vs the scalar state: n exact, extrema exact,
    # distinct(event_id) == n_rows because event_id is unique
    bad = got.filter(
        (F.col("kll_n") != F.col("n_rows"))
        | (F.col("kll_min") != F.col("low_v"))
        | (F.col("kll_max") != F.col("high_v"))
        | (F.col("uniq_est") != F.col("n_rows"))
    )
    assert bad.count() == 0
