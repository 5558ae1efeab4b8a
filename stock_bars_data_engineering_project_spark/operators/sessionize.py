"""Gap-based sessionization: group each user's event stream into
sessions separated by >= ``GAP_MINUTES`` of inactivity — the standard
clickstream primitive feeding funnels, cohorts, and per-session
training-sequence construction (the reference's analytics layer has no
session concept; this is part of the events-table extension surface
alongside operators/funnel.py).

Scale shape: ONE hash exchange on the user key, then two Window passes
over the same (user, time) sort — Spark plans both window nodes on one
sort order, so the second pass reuses the first's sort. Per-partition
work is a linear scan; state is one previous-timestamp per row. The
session label is a PER-USER 1-based index (not a global id), so the
labeling is embarrassingly parallel across users and stable under
corpus growth in other users — the 100 TB idiom (user cardinality
bounds the shuffle, never total event count in one task; a single
pathological user is the same single-task bound every per-user
sequence operator here carries, documented in funnel.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import event_micros

# inactivity timeout that starts a new session (12 hours)
GAP_MINUTES = 720


def sessionize(events: DataFrame) -> DataFrame:
    """Label every event with its per-user ``session_id`` (1-based, in
    time order): a new session starts at the user's first event and at
    every event following >= ``GAP_MINUTES`` of silence. Ordering is
    (event-time micros, ``event_id``) — tie-free by the unique event id,
    so the labeling is deterministic on any engine (the window-ordering
    discipline). Timestamp flavor (TIMESTAMP vs TIMESTAMP_NTZ) is
    normalized by ``event_micros``.

    Two window passes, one shuffle: the new-session flag needs ``lag``
    and the label needs a running sum of the flag, and Spark forbids
    nesting one window function inside another — but both windows
    share the exact (partition, order) spec, so Catalyst plans them on
    a single Exchange + sort.
    """
    gap_minutes = GAP_MINUTES
    if gap_minutes < 1:
        raise ValueError(f"gap_minutes must be >= 1, got {gap_minutes}")
    if "session_id" in events.columns:
        raise ValueError(
            "sessionize: input already has a session_id column — rename "
            "it first (withColumn would silently overwrite)"
        )
    us = event_micros(events, "ts")
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    gap_us = int(gap_minutes) * 60 * 1_000_000
    prev = F.lag(us).over(w)
    flagged = events.withColumn(
        "_new_session",
        F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy(
        event_micros(flagged, "ts").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.withColumn(
        "session_id", F.sum("_new_session").over(run)
    ).drop("_new_session")


def session_stats(events: DataFrame) -> DataFrame:
    """Per-session aggregate over :func:`sessionize`: one row per
    (user, session) with event count, start/end epoch-micros, duration,
    and the time-ordered event-type chain — the sequence form consumed
    by behavioral-cloning / next-event training data builds. The
    aggregate is partial-aggregable except the ordered chain, which
    rides the same per-user sort the labeling already paid."""
    labeled = sessionize(events)
    us = event_micros(labeled, "ts")
    return (
        labeled.select(
            "user_id",
            "session_id",
            us.alias("_us"),
            F.col("event_id").alias("_id"),
            F.col("event_type").alias("_t"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
            (F.max("_us") - F.min("_us")).alias("duration_us"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_us", "_id", "_t"))
                    ),
                    lambda s: s["_t"],
                ),
            ).alias("seq"),
        )
    )
