"""Event-time window queries + incremental-merge semantics, oracle-paired.

``win_*`` run the streaming window operators in batch mode (same code
path Structured Streaming executes). ``stream_tumbling_hourly`` runs a
REAL ``readStream`` query (availableNow trigger, memory sink) and
returns its result table — proving the streaming pipeline end-to-end
while still hash-matching the batch oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import event_micros, sql_round
from ..operators.merge import upsert_frames
from ..sources.readers import load_table
from ..streaming.stateful import first_seen_per_key
from ..streaming.windows import (
    run_stream_to_memory,
    session_agg,
    sliding_agg,
    stream_events,
    tumbling_agg,
)
from .registry import register


def _stage_events_dir(sf_dir: str, batch, tag: str = "") -> str:
    """Stage the filtered events as a parquet dir for readStream, keyed
    by (sf_dir, tag). ``tag`` must identify the FILTER that produced the
    batch — the mtime check below only detects testdata regeneration,
    so two callers staging different predicates under one key would
    silently serve each other stale rows. Re-stages when the SOURCE
    parquet is newer than the staged copy."""
    import os

    src = os.path.join(
        "/tmp",
        "stream_src_" + sf_dir.strip("/").replace("/", "_") + ("_" + tag if tag else ""),
    )
    source_file = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        try:
            fresh = os.path.getmtime(src) >= os.path.getmtime(source_file)
        except OSError:
            fresh = False
        if fresh:
            return src
    batch.write.mode("overwrite").parquet(src)
    return src


@register(
    "win_windows_suite",
    oracle=f"""
SELECT 'tumbling_1d' AS kind,
       event_type AS key,
       time_bucket(INTERVAL '1 day', ts) AS window_start,
       COUNT(*) AS n_events,
       {sql_round('SUM(value)', 2)} AS sum_value
FROM events
GROUP BY 2, 3
UNION ALL
SELECT 'sliding_2h' AS kind, key, window_start,
       COUNT(*) AS n_events,
       {sql_round('SUM(value)', 2)} AS sum_value
FROM (
    SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                   time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS window_start,
           event_type AS key, value
    FROM events
)
GROUP BY 2, 3
UNION ALL
SELECT 'session_2h' AS kind,
       CAST(user_id AS VARCHAR) AS key,
       MIN(ts) AS window_start,
       COUNT(*) AS n_events,
       {sql_round('SUM(value)', 2)} AS sum_value
FROM (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 7200000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
)
GROUP BY user_id, session_id
""",
)
def q_win_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-time window family in one tagged result — tumbling
    1-day (epoch-aligned), sliding 2h/1h (each event in two buckets;
    the oracle expands membership explicitly), and session windows with
    a 2h inactivity gap via native ``session_window`` (checked against a
    gaps-and-islands oracle, proving the stateful merge semantics equal
    the classic SQL formulation). The same DataFrame code runs under
    ``readStream`` with a watermark — that is the point of Structured
    Streaming; windowed aggs shuffle on (window, key)."""
    events = load_table(spark, sf_dir, "events")
    tum = tumbling_agg(events).select(
        F.lit("tumbling_1d").alias("kind"),
        F.col("event_type").alias("key"),
        "window_start",
        "n_events",
        "sum_value",
    )
    sli = sliding_agg(events).select(
        F.lit("sliding_2h").alias("kind"),
        F.col("event_type").alias("key"),
        "window_start",
        "n_events",
        "sum_value",
    )
    ses = session_agg(events).select(
        F.lit("session_2h").alias("kind"),
        F.col("user_id").cast("string").alias("key"),
        F.col("session_start").alias("window_start"),
        "n_events",
        "sum_value",
    )
    return tum.unionByName(sli).unionByName(ses)


@register(
    "incremental_merge_upsert",
    oracle="""
WITH source AS (
    SELECT event_id, user_id, ts, event_type, value + 1000 AS value
    FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
), target AS (
    SELECT event_id, user_id, ts, event_type, value
    FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
)
SELECT event_id, user_id, ts, event_type, value FROM source
UNION ALL
SELECT t.event_id, t.user_id, t.ts, t.event_type, t.value
FROM target t LEFT JOIN source s ON t.event_id = s.event_id
WHERE s.event_id IS NULL
""",
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/C4 as a query: an overlapping re-extract (ts >= 01-15, values
    revised) merged into the existing target (ts < 01-20) — source wins
    on key collision, non-overlapping target rows survive. The exact Q9
    healing semantics of the reference's incremental upsert."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    cut_lo = F.lit("2024-01-15 00:00:00").cast("timestamp")
    cut_hi = F.lit("2024-01-20 00:00:00").cast("timestamp")
    target = events.filter(F.col("ts") < cut_hi)
    source = events.filter(F.col("ts") >= cut_lo).withColumn(
        "value", F.col("value") + 1000
    )
    return upsert_frames(target, source, keys=("event_id",))


@register(
    "stream_stateful_dedup",
    oracle="""
SELECT 'first_seen' AS variant,
       user_id, ts AS first_ts, event_id AS first_event_id, value AS first_value
FROM (
    SELECT user_id, ts, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
) WHERE rn = 1
UNION ALL
SELECT 'wm_dedup' AS variant,
       user_id, ts AS first_ts, event_id AS first_event_id, value AS first_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
""",
)
def q_stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stateful streaming dedup surfaces as tagged arms of one row,
    so the driver checks both (tests/test_streaming.py pins them too):

    - 'first_seen': custom stateful operator (applyInPandasWithState) —
      keyed first-seen dedup, one output row per user ever, state
      persisted in the state store. Oracle is the batch gaps-free
      formulation (row_number = 1 per key by event time).
    - 'wm_dedup': the built-in ``dropDuplicatesWithinWatermark`` over an
      AT-LEAST-ONCE source — the staged feed contains every event twice
      (two parquet copies), and the drain must emit each event exactly
      once. Oracle is simply the distinct slice: exactly-once despite a
      duplicated delivery. The watermark rides a derived event-time
      column (``as_event_time`` discipline, session-tz independent) so
      the emitted ``first_ts`` stays the untouched source NTZ value.
    """
    batch = load_table(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp")
    )
    src = _stage_events_dir(sf_dir, batch, tag="ge20240125")
    events = spark.readStream.schema(batch.schema).parquet(src)
    out = first_seen_per_key(events)
    run_stream_to_memory(out, "stream_stateful_dedup", output_mode="append")
    first_seen = spark.table("stream_stateful_dedup").select(
        F.lit("first_seen").alias("variant"),
        "user_id", "first_ts", "first_event_id", "first_value",
    )

    src2 = _stage_events_dir(
        sf_dir, batch.unionByName(batch), tag="ge20240125_x2"
    )
    dup_stream = spark.readStream.schema(batch.schema).parquet(src2)
    deduped = (
        dup_stream.withColumn(
            "_et", F.timestamp_micros(event_micros(dup_stream, "ts"))
        )
        .withWatermark("_et", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            F.lit("wm_dedup").alias("variant"),
            "user_id",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
            F.col("value").alias("first_value"),
        )
    )
    run_stream_to_memory(deduped, "stream_wm_dedup", output_mode="append")
    return first_seen.unionByName(spark.table("stream_wm_dedup"))


@register(
    "stream_interval_join_suite",
    oracle="""
SELECT 'inner' AS variant,
       p.event_id AS purchase_id,
       p.user_id AS user_id,
       v.event_id AS view_id,
       CAST(NULL AS VARCHAR) AS seg
FROM events p
JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL '1 hour'
 AND v.ts <= p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND p.ts >= TIMESTAMP '2024-01-25 00:00:00'
  AND v.ts >= TIMESTAMP '2024-01-25 00:00:00'
UNION ALL
SELECT 'outer' AS variant,
       p.event_id AS purchase_id,
       p.user_id AS user_id,
       v.event_id AS view_id,
       CAST(NULL AS VARCHAR) AS seg
FROM events p
LEFT JOIN events v
  ON p.user_id = v.user_id
 AND v.event_type = 'view'
 AND v.ts >= TIMESTAMP '2024-01-25 00:00:00'
 AND v.ts >= p.ts - INTERVAL '1 hour'
 AND v.ts <= p.ts
WHERE p.event_type = 'purchase'
  AND p.ts >= TIMESTAMP '2024-01-25 00:00:00'
  AND p.ts <  TIMESTAMP '2024-01-30 00:00:00'
UNION ALL
SELECT 'static' AS variant,
       p.event_id AS purchase_id,
       p.user_id AS user_id,
       CAST(NULL AS BIGINT) AS view_id,
       c.c_mktsegment AS seg
FROM events p
JOIN customer c ON p.user_id = c.c_custkey
WHERE p.event_type = 'purchase'
  AND p.ts >= TIMESTAMP '2024-01-25 00:00:00'
""",
)
def q_stream_interval_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH watermarked stream-stream interval joins as tagged arms of
    one row (merged so the registry could admit bm25 while staying at
    the driver's 50-row window — each arm remains a REAL readStream
    drain, and the oracle checks each arm's rows under its tag):

    - 'inner': purchases matched to the same user's views in the
      preceding hour — two readStream sources, watermark + event-time
      range predicate bounding both join states, append-mode drain. A
      finite availableNow drain emits exactly the batch interval join.
    - 'outer' (LEFT OUTER — the semantically hard case): an unmatched
      purchase cannot be emitted on arrival (a matching view may still
      come), so the engine buffers it in state and emits the
      null-padded row only once the WATERMARK passes the end of its
      match window. The left side is bounded to ts < 01-30 so every
      held row's window closes strictly below the drain's final
      watermark (max event time minus the 1h delay — the corpus runs
      to 01-30 ~23:xx at every SF), making the availableNow drain
      deterministic and equal to the batch left-outer interval join —
      null emissions included, which the inner arm cannot check.
    - 'static': stream-static enrichment — the purchase
      stream joined to the STATIC customer dimension inside the
      streaming query (broadcast per micro-batch, no state, append
      mode), emitting the joined c_mktsegment. Every purchase's
      user_id resolves in the dim at every SF, so the arm is the batch
      inner join. Previously pinned only by
      tests/test_streaming.py::test_stream_static_join_matches_batch."""
    from ..streaming.joins import interval_join

    batch = load_table(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp")
    )
    schema = batch.schema
    src = _stage_events_dir(sf_dir, batch, tag="ge20240125")

    def drain(how: str, bound_left: bool, sink: str) -> DataFrame:
        purchases = stream_events(spark, src, schema).filter(
            F.col("event_type") == "purchase"
        )
        if bound_left:
            purchases = purchases.filter(
                F.col("ts") < F.lit("2024-01-30 00:00:00").cast("timestamp")
            )
        views = stream_events(spark, src, schema).filter(
            F.col("event_type") == "view"
        )
        joined = interval_join(purchases, views, how=how).select(
            F.col("l_event_id").alias("purchase_id"),
            F.col("l_user_id").alias("user_id"),
            F.col("r_event_id").alias("view_id"),
        )
        run_stream_to_memory(joined, sink, output_mode="append")
        return spark.table(sink)

    inner = drain("inner", False, "stream_ij_inner").select(
        F.lit("inner").alias("variant"), "purchase_id", "user_id", "view_id",
        F.lit(None).cast("string").alias("seg"),
    )
    outer = drain("left_outer", True, "stream_ij_outer").select(
        F.lit("outer").alias("variant"), "purchase_id", "user_id", "view_id",
        F.lit(None).cast("string").alias("seg"),
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    purchases = spark.readStream.schema(schema).parquet(src).filter(
        F.col("event_type") == "purchase"
    )
    enriched = purchases.join(
        F.broadcast(cust), purchases.user_id == cust.c_custkey
    ).select(
        F.lit("static").alias("variant"),
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.lit(None).cast("long").alias("view_id"),
        F.col("c_mktsegment").alias("seg"),
    )
    run_stream_to_memory(enriched, "stream_ij_static", output_mode="append")
    static = spark.table("stream_ij_static")

    return inner.unionByName(outer).unionByName(static)


# Every streaming surface is driver-gated: stateful
# first-seen dedup + dropDuplicatesWithinWatermark (arms of
# stream_stateful_dedup), inner/outer interval joins + stream-static
# enrichment (arms of stream_interval_join_suite), epoch-log rollup
# maintenance (rollup_maintenance 'stream' arm), band-index dedup
# ingest (stream_dedup_ingest), and the cross-restart EMA state store
# (ewma_per_user 'stream' arm). tests/test_streaming.py additionally
# pins stream == batch across arbitrary micro-batching and restarts.
