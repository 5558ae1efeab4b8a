"""Theta-state retention (operators/sketches.py): in exact mode the
day-over-day set expressions equal the raw-row member-set algebra."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.sketches import (
    member_day_sets,
    retention_day_over_day,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "value"
    )


def test_retention_matches_exact_set_algebra(spark, events):
    """Theta-state retention vs exact day-over-day member-set
    intersections (member cardinality here is far below the sketch's
    exact-mode threshold, so estimates are exact). The operator's
    claim — retention from O(days) stored state, no raw-row join —
    must still produce the same numbers the raw-row join would."""
    got = retention_day_over_day(member_day_sets(events)).alias("g")
    days = events.select(
        F.to_date("ts").alias("day"), F.col("user_id")
    ).distinct()
    prev = days.select(
        F.date_add("day", 1).alias("day"), F.col("user_id")
    )
    exact_ret = (
        days.join(prev, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("x_retained"))
    )
    exact_active = days.groupBy("day").agg(
        F.count(F.lit(1)).alias("x_active")
    )
    j = (
        got.join(exact_active, "day", "left")
        .join(exact_ret, "day", "left")
        .withColumn("x_retained", F.coalesce("x_retained", F.lit(0)))
    )
    bad = j.filter(
        (F.col("active") != F.col("x_active"))
        | (F.col("retained") != F.col("x_retained"))
        | (F.col("new_members") != F.col("x_active") - F.col("x_retained"))
    )
    assert bad.count() == 0
    # every day with a predecessor in the data appears exactly once
    n_days = events.select(F.to_date("ts")).distinct().count()
    assert got.count() == n_days - 1
