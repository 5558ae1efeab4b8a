"""Ordered-funnel analysis (operators/funnel.funnel_steps): first-touch
anchoring, strict time ordering, same-timestamp non-advancement,
monotone reach, and the guard contracts."""

from __future__ import annotations

import datetime

import pytest

from stock_bars_data_engineering_project_spark.operators.funnel import funnel_steps


def _t(m):
    return datetime.datetime(2024, 1, 1, 0, m)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )


def _run(spark, rows, steps=("view", "click", "purchase")):
    return {
        r.step: (r.step_idx, r.n_users)
        for r in funnel_steps(_events(spark, rows), steps).collect()
    }


def test_funnel_counts_hand_computed(spark):
    rows = [
        # user 1 completes in order
        (1, _t(0), "view"), (1, _t(1), "click"), (1, _t(2), "purchase"),
        # user 2: click BEFORE view -> stops at view
        (2, _t(1), "view"), (2, _t(0), "click"),
        # user 3: view+click, purchase before click -> stops at click
        (3, _t(0), "view"), (3, _t(1), "click"), (3, _t(0), "purchase"),
        # user 4: never views (click+purchase only) -> not in funnel
        (4, _t(0), "click"), (4, _t(1), "purchase"),
    ]
    got = _run(spark, rows)
    assert got == {
        "view": (1, 3),
        "view>click": (2, 2),
        "view>click>purchase": (3, 1),
    }


def test_first_touch_anchoring(spark):
    """The SECOND view does not re-anchor: a click between view#1 and
    view#2 counts (it is after the FIRST view)."""
    rows = [
        (1, _t(0), "view"), (1, _t(1), "click"), (1, _t(2), "view"),
    ]
    got = _run(spark, rows, steps=("view", "click"))
    assert got["view>click"] == (2, 1)
    # and a click before the first view never counts, even though it
    # precedes the second view
    rows2 = [(1, _t(1), "view"), (1, _t(0), "click"), (1, _t(2), "view")]
    got2 = _run(spark, rows2, steps=("view", "click"))
    assert got2["view>click"] == (2, 0)


def test_same_timestamp_does_not_advance(spark):
    rows = [(1, _t(0), "view"), (1, _t(0), "click")]
    got = _run(spark, rows, steps=("view", "click"))
    assert got == {"view": (1, 1), "view>click": (2, 0)}


def test_reach_is_monotone_on_real_data(spark):
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    got = {
        r.step_idx: r.n_users
        for r in funnel_steps(ev, ("view", "click", "purchase")).collect()
    }
    assert got[1] >= got[2] >= got[3] >= 0
    assert got[1] > 0


def test_guards(spark):
    ev = _events(spark, [(1, _t(0), "view")])
    with pytest.raises(ValueError, match="at least one step"):
        funnel_steps(ev, ())
    with pytest.raises(ValueError, match="duplicate step"):
        funnel_steps(ev, ("view", "view"))


# --- cohort retention triangle ---------------------------------------------


def test_cohort_retention_hand_computed(spark):
    from stock_bars_data_engineering_project_spark.operators.funnel import (
        cohort_retention,
    )

    d = datetime.datetime
    rows = [
        # cohort 01-01: users 1,2; user 1 returns d1 and d2, user 2 d2
        (1, d(2024, 1, 1, 9), "x"), (1, d(2024, 1, 2, 9), "x"),
        (1, d(2024, 1, 3, 9), "x"),
        (2, d(2024, 1, 1, 9), "x"), (2, d(2024, 1, 3, 9), "x"),
        # two events same day -> one active day
        (2, d(2024, 1, 3, 23), "x"),
        # cohort 01-02: user 3 only, never returns
        (3, d(2024, 1, 2, 9), "x"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        (r.cohort_day.isoformat(), r.offset): r.n_users
        for r in cohort_retention(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 2,
        ("2024-01-02", 0): 1,
    }


def test_cohort_offset_cap(spark):
    from stock_bars_data_engineering_project_spark.operators.funnel import (
        cohort_retention,
    )

    d = datetime.datetime
    ev = spark.createDataFrame(
        [(1, d(2024, 1, 1, 9), "x"), (1, d(2024, 3, 1, 9), "x")],
        "user_id long, ts timestamp, event_type string",
    )
    got = cohort_retention(ev).collect()
    assert {(r.offset, r.n_users) for r in got} == {(0, 1)}  # day-60 capped


def test_cohort_day0_equals_cohort_size_on_real_data(spark):
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.funnel import (
        cohort_retention,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    tri = cohort_retention(ev)
    d0_total = (
        tri.filter("offset = 0").agg(F.sum("n_users")).first()[0]
    )
    n_users = ev.select("user_id").distinct().count()
    assert d0_total == n_users  # every user is in exactly one cohort
    # monotone: no offset cell exceeds its cohort's day-0 size
    d0 = {r.cohort_day: r.n_users for r in tri.filter("offset = 0").collect()}
    for r in tri.collect():
        assert r.n_users <= d0[r.cohort_day]


def test_funnel_steps_within_window(spark):
    """Conversion-window semantics: each step must land <= `within`
    after the previous step's anchor (inclusive bound, per-transition).
    First-touch anchoring means windowing only removes users at a step
    — the in-window set is non-empty exactly when the unwindowed
    anchor is in-window."""
    import datetime as dt

    from stock_bars_data_engineering_project_spark.operators.funnel import (
        funnel_steps,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: click 30min after view, purchase 30min after click -> full
        (1, at(0), "view"), (1, at(30), "click"), (1, at(60), "purchase"),
        # user 2: click 90min after view -> outside 1h window, stops at 1
        (2, at(0), "view"), (2, at(90), "click"),
        # user 3: click exactly 60min after view -> INCLUSIVE bound, advances;
        # purchase 61min after click -> outside, stops at 2
        (3, at(0), "view"), (3, at(60), "click"), (3, at(121), "purchase"),
        # user 4: earliest click pre-dates the view (never qualifies),
        # second click in-window -> advances via first-touch min over
        # QUALIFYING events
        (4, at(10), "view"), (4, at(5), "click"), (4, at(40), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r.step: r.n_users
        for r in funnel_steps(
            ev, ("view", "click", "purchase"), within="1 hours"
        ).collect()
    }
    assert got == {"view": 4, "view>click": 3, "view>click>purchase": 1}

    # unbounded: user 2's 90-min click and user 3's 61-min purchase
    # both advance — the window is what removed them above
    unbounded = {
        r.step: r.n_users
        for r in funnel_steps(ev, ("view", "click", "purchase")).collect()
    }
    assert unbounded == {"view": 4, "view>click": 4, "view>click>purchase": 2}


def test_touch_attribution_matches_python_replay(spark):
    """touch_attribution equals a brute-force Python replay for BOTH
    models on a fixture with every edge: multiple touches, window
    expiry, tie on timestamp (event_id breaks it), direct conversion
    ('none' bucket), and a user with touches but no conversion."""
    import datetime as dt

    from stock_bars_data_engineering_project_spark.operators.funnel import (
        touch_attribution,
    )

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        # user 1: view then click then purchase -> last=click, first=view
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + h, 1, "click", 1.0, "{}"),
        (3, t0 + 2 * h, 1, "purchase", 1.0, "{}"),
        # user 2: touch 30h before purchase -> outside 24h -> none
        (4, t0, 2, "view", 1.0, "{}"),
        (5, t0 + 30 * h, 2, "purchase", 1.0, "{}"),
        # user 3: tie timestamp, higher event_id wins last, lower first
        (6, t0, 3, "view", 1.0, "{}"),
        (7, t0, 3, "click", 1.0, "{}"),
        (8, t0 + h, 3, "purchase", 1.0, "{}"),
        # user 4: touches, no conversion -> contributes nothing
        (9, t0, 4, "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    last = {
        r.event_type: r.n_conversions
        for r in touch_attribution(ev, model="last").collect()
    }
    first = {
        r.event_type: r.n_conversions
        for r in touch_attribution(ev, model="first").collect()
    }
    # user 1 -> click(last)/view(first); user 2 -> none; user 3 ->
    # click (tid 7 > 6) last, view (tid 6 < 7) first
    assert last == {"click": 2, "none": 1}
    assert first == {"view": 2, "none": 1}

    import pytest

    with pytest.raises(ValueError, match="model"):
        touch_attribution(ev, model="linear")


def test_time_to_convert_matches_python_replay(spark):
    """time_to_convert: exact lower-median latency per transition on a
    fixture with odd/even counts and non-converting users."""
    import datetime as dt

    from stock_bars_data_engineering_project_spark.operators.funnel import (
        time_to_convert,
    )

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = []
    eid = 0
    # users 1..4 convert view->click with latencies 1, 2, 3, 10 min
    # (even count -> lower median = 2 min); users 1..3 convert
    # click->purchase with 5, 7, 9 min (odd -> median 7)
    for u, lat in ((1, 1), (2, 2), (3, 3), (4, 10)):
        rows += [(eid := eid + 1, t0, u, "view", 1.0, "{}"),
                 (eid := eid + 1, t0 + lat * m, u, "click", 1.0, "{}")]
    for u, lat in ((1, 5), (2, 7), (3, 9)):
        click_t = t0 + {1: 1, 2: 2, 3: 3}[u] * m
        rows.append((eid := eid + 1, click_t + lat * m, u, "purchase", 1.0, "{}"))
    rows.append((eid := eid + 1, t0, 9, "view", 1.0, "{}"))  # never converts
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r.transition: (r.n_converted, r.p50_us)
        for r in time_to_convert(ev, ("view", "click", "purchase")).collect()
    }
    assert got["view>click"] == (4, 2 * 60 * 1_000_000)
    assert got["click>purchase"] == (3, 7 * 60 * 1_000_000)

    import pytest

    with pytest.raises(ValueError, match="two steps"):
        time_to_convert(ev, ("view",))
