"""Ordered-funnel conversion analysis — "how many users did A, then B
strictly after A, then C strictly after B" (the product-analytics
staple; first-touch semantics: each step anchors at the EARLIEST
qualifying event after the previous step's anchor).

Scale shape: one type-filtered partial-agg ``min(ts)`` per step (the
type predicate pushes into the scan) plus one user-keyed join per step
transition — the join inputs are user-cardinality frames (one row per
user that reached the step), never raw events, so a 100 TB event log
reduces map-side before anything shuffles. No window over per-user
history: a window formulation would sort every user's full event list,
paying tick volume for a question whose answer needs only per-step
minima.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, ...],
    within: str | None = None,
) -> DataFrame:
    """Per-step reach counts for an ordered funnel: row i carries
    ``step_idx`` (1-based), ``step`` (the '>'-joined path so far) and
    ``n_users`` — the number of users with a ``steps[0]`` event, then a
    ``steps[1]`` event STRICTLY after their first ``steps[0]``, and so
    on (first-touch anchoring). Same-timestamp events do NOT advance
    the funnel (strict >): conversion cannot precede or tie its cause.

    ``within`` (e.g. ``"24 hours"``) adds the conversion-window
    semantics product analytics usually asks for: each step must land
    AT MOST that interval after the previous step's anchor (inclusive
    upper bound; per-transition, not funnel-global). Anchoring stays
    first-touch: the anchor is the MINIMUM qualifying event, and since
    the window is a prefix of the qualifying range ((prev_t, prev_t+T]
    starts at the bottom of (prev_t, inf)), the in-window set is
    non-empty exactly when the unwindowed anchor itself lands in the
    window — so windowing only removes users at a step, never
    re-anchors a surviving user. ``None`` (default) keeps the
    unbounded ordered funnel.

    ``steps`` must be non-empty and duplicate-free (a repeated type is
    almost always a bug — "view>view" would count a second view after
    the first, which IS expressible but should be asked for explicitly
    via distinct marker types).
    """
    if not steps:
        raise ValueError("funnel_steps needs at least one step")
    if len(set(steps)) != len(steps):
        raise ValueError(f"duplicate step types in {steps!r}")

    frames = []
    prev: DataFrame | None = None
    for i, s in enumerate(steps):
        ev_s = events.filter(F.col("event_type") == s).select(
            F.col("user_id").alias("u"), F.col("ts").alias("__t")
        )
        if prev is None:
            cur = ev_s.groupBy("u").agg(F.min("__t").alias("t"))
        else:
            cond = F.col("__t") > F.col("__pt")
            if within is not None:
                cond = cond & (
                    F.col("__t")
                    <= F.col("__pt") + F.expr(f"INTERVAL {within}")
                )
            cur = (
                ev_s.join(prev.select("u", F.col("t").alias("__pt")), "u")
                .filter(cond)
                .groupBy("u")
                .agg(F.min("__t").alias("t"))
            )
        frames.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).cast("int").alias("step_idx"),
                F.lit(">".join(steps[: i + 1])).alias("step"),
                "n_users",
            )
        )
        prev = cur
    return reduce(lambda a, b: a.unionByName(b), frames)


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention triangle — the funnel's product-analytics twin:
    users cohort by their FIRST active day, and each (cohort_day,
    offset) cell counts how many of that cohort were active exactly
    ``offset`` days later (offset 0 = cohort size by construction).

    Returns (cohort_day, offset, n_users) for offsets 0..7.

    Scale shape: one partial-agg first-day aggregate (user-cardinality
    output), one distinct over (user, day) — bounded by user-days, far
    below raw tick volume — one user-keyed join of those two reduced
    frames, one counting aggregate. The offset cap bounds the output at
    days x 8 cells however large the log.
    """
    day = F.to_date(F.col("ts"))
    first = events.groupBy(F.col("user_id").alias("u")).agg(
        F.min(day).alias("cohort_day")
    )
    active = (
        events.select(F.col("user_id").alias("u"), day.alias("day"))
        .distinct()
    )
    return (
        active.join(first, "u")
        .withColumn("offset", F.datediff("day", "cohort_day"))
        .filter(F.col("offset") <= 7)
        .groupBy("cohort_day", "offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("cohort_day", F.col("offset").cast("int"), "n_users")
    )


def touch_attribution(events: DataFrame, model: str = "last") -> DataFrame:
    """Single-touch conversion attribution — which channel gets credit
    for each conversion, the question every funnel report ends with.
    ``model='last'`` credits the latest qualifying touch before the
    conversion (the default of most product-analytics stacks),
    ``'first'`` the earliest, among the view/click touches before each
    purchase; a conversion with no touch inside 24 hours is credited to
    ``'none'`` (the direct-conversion
    bucket, reported rather than dropped). Returns
    ``(event_type, n_conversions)`` with exact integer counts — no
    fractional credit, so the result replays exactly in any engine
    (linear/positional multi-touch splits would put engine-dependent
    float division in the gate).

    Scale shape: one user-keyed equi-join between the conversion slice
    and the touch slice, range-bounded by the 24-hour window — fan-out is
    touches-per-user x conversions-per-user inside the window, the
    irreducible size of the attribution relation — then a
    conversion-keyed ROW_NUMBER over that bounded group picks the
    credited touch. Ties on timestamp break by event_id, so the pick
    is deterministic under any partitioning.
    """
    if model not in ("last", "first"):
        raise ValueError(f"model must be 'last' or 'first', got {model!r}")
    from pyspark.sql import Window

    conv = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    touch = events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("ttype"),
    )
    pairs = conv.join(
        touch,
        (conv["cu"] == touch["tu"])
        & (touch["tts"] < conv["cts"])
        & (touch["tts"] >= conv["cts"] - F.expr("INTERVAL 24 hours")),
    )
    order = (
        [F.col("tts").desc(), F.col("tid").desc()]
        if model == "last"
        else [F.col("tts").asc(), F.col("tid").asc()]
    )
    w = Window.partitionBy("conv_id").orderBy(*order)
    credited = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("ttype")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .select(F.col("ttype").alias("event_type"), "n_conversions")
    )
    n_conv = conv.agg(F.count(F.lit(1)).alias("n"))
    n_credited = credited.agg(
        F.coalesce(F.sum("n_conversions"), F.lit(0)).alias("c")
    )
    none_row = (
        n_conv.crossJoin(n_credited)
        .select(
            F.lit("none").alias("event_type"),
            (F.col("n") - F.col("c")).alias("n_conversions"),
        )
        .filter(F.col("n_conversions") > 0)
    )
    return credited.unionByName(none_row)


def time_to_convert(events: DataFrame, steps: tuple[str, ...]) -> DataFrame:
    """Per-transition conversion-latency summary for an ordered funnel:
    for each adjacent step pair (same first-touch anchoring and strict
    ordering as :func:`funnel_steps`), the number of converting users
    and the LOWER MEDIAN of their conversion latencies in microseconds
    — ``(transition, n_converted, p50_us)``.

    The median is the integer order statistic (the smallest latency
    whose cumulative count reaches half), NOT an interpolated
    percentile: latencies are exact integer microsecond diffs, so the
    summary replays exactly in any engine with zero FP tolerance — the
    same no-interpolation stance as curriculum_phases' boundaries.

    Scale shape: the anchor chain is funnel_steps' per-step min-agg
    joins (user-cardinality frames); the median's cumulative window
    runs per transition over the CONVERTING users' latencies. At
    extreme user counts swap the exact order statistic for
    ``approx_percentile`` — the operator keeps exactness as the
    correctness baseline, the stats_suite argument.
    """
    if len(steps) < 2:
        raise ValueError("time_to_convert needs at least two steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"duplicate step types in {steps!r}")
    from pyspark.sql import Window

    from ..functions.scalars import event_micros

    frames = []
    prev: DataFrame | None = None
    for i, s in enumerate(steps):
        ev_s = events.filter(F.col("event_type") == s).select(
            F.col("user_id").alias("u"), F.col("ts").alias("__t")
        )
        if prev is None:
            cur = ev_s.groupBy("u").agg(F.min("__t").alias("t"))
        else:
            cur = (
                ev_s.join(prev.select("u", F.col("t").alias("__pt")), "u")
                .filter(F.col("__t") > F.col("__pt"))
                .groupBy("u")
                .agg(F.min("__t").alias("t"), F.min("__pt").alias("pt"))
            )
            durs = cur.select(
                (
                    event_micros(cur, "t") - event_micros(cur, "pt")
                ).alias("dur_us")
            )
            w = Window.orderBy("dur_us").rowsBetween(
                Window.unboundedPreceding, 0
            )
            full = Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            med = (
                durs.withColumn("_cum", F.count(F.lit(1)).over(w))
                .withColumn("_n", F.count(F.lit(1)).over(full))
                .filter(F.col("_cum") * 2 >= F.col("_n"))
                .agg(
                    F.min("dur_us").alias("p50_us"),
                    F.first("_n").alias("n_converted"),
                )
            )
            frames.append(
                med.select(
                    F.lit(f"{steps[i - 1]}>{s}").alias("transition"),
                    F.coalesce(F.col("n_converted"), F.lit(0)).alias(
                        "n_converted"
                    ),
                    "p50_us",
                )
            )
        prev = cur
    return reduce(lambda a, b: a.unionByName(b), frames)
