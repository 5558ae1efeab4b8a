"""Calendar gap-fill (operators/gapfill.calendar_fill): synthetic-rows
semantics, forward-fill correctness across multi-day gaps, span
boundaries, and the reserved-column guard."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.gapfill import calendar_fill


def _d(s):
    return datetime.date.fromisoformat(s)


@pytest.fixture()
def bars(spark):
    return spark.createDataFrame(
        [
            # user 1: observed 01, 02, 05, 06 -> gaps 03, 04
            (1, _d("2024-01-01"), 10.0),
            (1, _d("2024-01-02"), 20.0),
            (1, _d("2024-01-05"), 50.0),
            (1, _d("2024-01-06"), 60.0),
            # user 2: dense span -> no gaps
            (2, _d("2024-01-01"), 1.0),
            (2, _d("2024-01-02"), 2.0),
            # user 3: single day -> no gaps
            (3, _d("2024-03-01"), 7.0),
        ],
        "user_id long, day date, close_v double",
    )


def test_fills_only_missing_days_with_carried_value(bars):
    got = sorted(
        (r.user_id, r.day.isoformat(), r.close_v)
        for r in calendar_fill(bars, "user_id", ("close_v",)).collect()
    )
    assert got == [
        (1, "2024-01-03", 20.0),
        (1, "2024-01-04", 20.0),
    ]


def test_multi_column_carry_and_long_gap(spark):
    bars = spark.createDataFrame(
        [
            (1, _d("2024-01-01"), 10.0, "x"),
            (1, _d("2024-01-10"), 90.0, "y"),
        ],
        "user_id long, day date, close_v double, tag string",
    )
    got = calendar_fill(
        bars, "user_id", ("close_v", "tag")
    ).collect()
    assert len(got) == 8  # 02..09
    assert {(r.close_v, r.tag) for r in got} == {(10.0, "x")}
    assert min(r.day for r in got) == _d("2024-01-02")
    assert max(r.day for r in got) == _d("2024-01-09")


def test_union_with_observed_reconstructs_dense_series(bars):
    gaps = calendar_fill(bars, "user_id", ("close_v",))
    dense = bars.unionByName(gaps)
    per_user = {
        r.user_id: r.n
        for r in dense.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_user == {1: 6, 2: 2, 3: 1}
    # no duplicate (key, day)
    assert (
        dense.groupBy("user_id", "day").count().filter("count > 1").count()
        == 0
    )


def test_reserved_column_guard(bars):
    with pytest.raises(ValueError, match="reserved column"):
        calendar_fill(
            bars.withColumn("__gap_obs", F.lit(1)),
            "user_id",
            ("close_v",),
        )
