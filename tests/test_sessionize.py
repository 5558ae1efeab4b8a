"""Gap-based sessionization laws: boundary semantics, Python replay,
the per-session stats chain, and the guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.functions.scalars import event_micros
from stock_bars_data_engineering_project_spark.operators import sessionize as sessionize_mod
from stock_bars_data_engineering_project_spark.operators.sessionize import (
    session_stats,
    sessionize,
)
from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_sessionize_gap_boundary_matches_session_window(spark, monkeypatch):
    """An inter-event gap EXACTLY equal to the timeout stays in the same
    session; one microsecond past it splits — the convention pinned to
    Spark's native session_window merge rule (adjacent windows merge),
    so the batch labeling and the streaming form can never disagree at
    the boundary."""
    ev = _mk(
        spark,
        [
            (1, 1, "2024-01-01 00:00:00", "view"),
            (1, 2, "2024-01-01 00:01:00", "click"),  # gap == 60 s: same
            (1, 3, "2024-01-01 00:02:00.000001", "view"),  # +1 us: new
        ],
    )
    monkeypatch.setattr(sessionize_mod, "GAP_MINUTES", 1)
    got = {
        r.event_id: r.session_id
        for r in sessionize(ev).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2}

    # the native session_window groups the same events identically
    agg = (
        ev.groupBy(F.session_window("ts", "1 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r.n for r in agg) == [1, 2]


def test_sessionize_matches_python_replay(spark):
    ev = load_table(spark, SF, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    gap_us = 720 * 60 * 1_000_000
    got = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize(ev).collect()
    }

    rows = sorted(
        ev.withColumn("us", event_micros(ev, "ts")).collect(),
        key=lambda r: (r.user_id, r.us, r.event_id),
    )
    want, prev_user, prev_us, sid = {}, None, None, 0
    for r in rows:
        if r.user_id != prev_user:
            sid = 1
        elif (r.us - prev_us) > gap_us:
            sid += 1
        want[(r.user_id, r.event_id)] = sid
        prev_user, prev_us = r.user_id, r.us
    assert got == want
    # every user's labels start at 1 and are contiguous
    assert min(got.values()) == 1


def test_session_stats_chain_and_duration(spark):
    ev = _mk(
        spark,
        [
            (7, 1, "2024-01-01 00:00:00", "view"),
            (7, 2, "2024-01-01 00:10:00", "click"),
            (7, 3, "2024-01-02 09:00:00", "purchase"),
        ],
    )
    out = {r.session_id: r for r in session_stats(ev).collect()}
    assert out[1].seq == "view,click" and out[1].n_events == 2
    assert out[1].duration_us == 600 * 1_000_000
    assert out[2].seq == "purchase" and out[2].duration_us == 0


def test_sessionize_guards(spark, monkeypatch):
    ev = load_table(spark, SF, "events")
    with pytest.raises(ValueError, match="session_id"):
        sessionize(ev.withColumn("session_id", F.lit(1)))
    monkeypatch.setattr(sessionize_mod, "GAP_MINUTES", 0)
    with pytest.raises(ValueError, match="gap_minutes"):
        sessionize(ev)
