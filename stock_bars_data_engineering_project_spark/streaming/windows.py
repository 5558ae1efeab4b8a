"""Event-time windowed aggregation — batch and Structured Streaming.

The reference has no streaming, but its checkpoint/upsert loop (SURVEY
§2.8) is hand-rolled micro-batching; this module supplies the formal
versions: tumbling / sliding / session windows over event time, usable
identically on a batch DataFrame or a ``readStream`` source (the
DataFrame code is THE SAME — that is the point of Structured Streaming).

Scale: windowed aggs shuffle on (window, keys); watermarks bound state.
Session windows use ``F.session_window`` (native state merge) rather
than a gaps-and-islands window function, so streaming and batch agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import as_event_time, round_half_up


def tumbling_agg(df: DataFrame) -> DataFrame:
    """Fixed epoch-aligned 1-day windows: count + sum per (window,
    event_type)."""
    return (
        df.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(df: DataFrame) -> DataFrame:
    """Overlapping 2-hour windows sliding by 1 hour — each event lands in
    two windows."""
    return (
        df.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )


def session_agg(df: DataFrame) -> DataFrame:
    """Session windows: events within 2 hours of each other merge into one
    session per ``user_id``. Native ``session_window`` — the same operator
    Structured Streaming uses for stateful session merge."""
    return (
        df.groupBy(F.session_window("ts", "2 hours").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_events(
    spark: SparkSession,
    src_dir: str,
    schema,
) -> DataFrame:
    """``readStream`` over a parquet directory with a 1-hour event-time
    watermark — late data beyond it is dropped and state for
    closed windows is reclaimed (the streaming analog of the reference's
    overlap-inclusive re-read, SURVEY C4). ``withWatermark`` requires
    TIMESTAMP proper, so a TIMESTAMP_NTZ event-time column is first
    reinterpreted as a UTC instant (:func:`as_event_time`)."""
    stream = spark.readStream.schema(schema).parquet(src_dir)
    return as_event_time(stream).withWatermark("ts", "1 hour")


def run_stream_to_memory(
    agg: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming aggregation to completion against the available
    input (availableNow) into an in-memory table for inspection/tests."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
