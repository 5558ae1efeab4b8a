"""As-of join: inclusive backward match, NULL when no predecessor."""

from __future__ import annotations

from datetime import datetime

from stock_bars_data_engineering_project_spark.operators.asof import asof_join


def _dt(h, m=0):
    return datetime(2024, 1, 1, h, m)


def test_asof_backward_inclusive_and_null(spark):
    left = spark.createDataFrame(
        [(1, 1, _dt(10)), (2, 1, _dt(12)), (3, 2, _dt(9))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _dt(10), 100.0), (1, _dt(11), 110.0), (2, _dt(9, 30), 200.0)],
        "user_id long, mark_ts timestamp, mark_value double",
    )
    got = {
        r.event_id: (r.mark_ts, r.mark_value)
        for r in asof_join(left, right).collect()
    }
    assert got[1] == (_dt(10), 100.0)  # inclusive: equal timestamps match
    assert got[2] == (_dt(11), 110.0)  # latest predecessor, not first
    assert got[3] == (None, None)  # no predecessor -> NULL match
