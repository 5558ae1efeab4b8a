"""Structured Streaming: windowed aggs vs batch equivalence, stateful
dedup and EWMA, stream-static and interval joins, and the rollup
epoch log (exactly-once state under replay)."""

from __future__ import annotations


from pyspark.sql import Window
from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.sinks import ParquetWarehouse
from stock_bars_data_engineering_project_spark.sources.readers import load_table
from stock_bars_data_engineering_project_spark.streaming.windows import (
    run_stream_to_memory,
    stream_events,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"


def test_stream_matches_batch_tumbling(spark, tmp_path):
    events = load_table(spark, SF, "events")
    src = str(tmp_path / "src")
    events.write.parquet(src)

    stream = stream_events(spark, src, events.schema)
    agg = tumbling_agg(stream)
    run_stream_to_memory(agg, "t_stream_batch_eq", output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("t_stream_batch_eq").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_agg(events).collect()
    }
    assert got == want


def test_stateful_first_seen_dedup(spark, tmp_path):
    from stock_bars_data_engineering_project_spark.streaming.stateful import first_seen_per_key

    events = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = first_seen_per_key(stream)
    run_stream_to_memory(out, "t_first_seen", output_mode="append")
    got = {
        r.user_id: (r.first_ts, r.first_event_id)
        for r in spark.table("t_first_seen").collect()
    }
    want = {
        r.user_id: (r.ts, r.event_id)
        for r in events.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    assert got == want


def test_streaming_ewma_continues_state_across_batches(spark, tmp_path):
    """Two micro-batches (time-split files, maxFilesPerTrigger=1): the
    state store must carry each key's EMA across the batch boundary so
    the stream emits exactly the batch operator's series."""
    import time as _time

    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.ema import ewma_per_key
    from stock_bars_data_engineering_project_spark.sources.readers import load_table
    from stock_bars_data_engineering_project_spark.streaming.stateful import ewma_stream

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("user_id") < 5)
        .select("user_id", "event_id", "ts", "value")
    )
    expected = {
        r.event_id: r.ema for r in ewma_per_key(events).collect()
    }
    from stock_bars_data_engineering_project_spark.functions.scalars import event_micros

    micros = event_micros(events, "ts")
    cut = events.agg(F.percentile(micros, F.lit(0.5))).first()[0]
    src = str(tmp_path / "src")
    events.filter(micros <= cut).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # distinct mtimes: file source orders oldest-first
    events.filter(micros > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        ewma_stream(stream)
        .writeStream.format("memory")
        .queryName("ewma_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.event_id: r.ema for r in spark.table("ewma_stream_test").collect()}
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) <= 1e-9 * max(1.0, abs(v)), k


def test_streaming_ewma_correct_across_small_arrow_chunks(spark, tmp_path):
    """Force multi-chunk delivery of one key's micro-batch slice
    (tiny maxRecordsPerBatch): the stateful fold must still process the
    slice in event-time order."""
    import datetime as dt

    from stock_bars_data_engineering_project_spark.operators.ema import ewma_per_key
    from stock_bars_data_engineering_project_spark.streaming.stateful import ewma_stream

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + dt.timedelta(minutes=i), float((i * 37) % 100))
        for i in range(60)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    expected = {r.event_id: r.ema for r in ewma_per_key(events).collect()}

    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)  # shuffled file order
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            ewma_stream(stream)
            .writeStream.format("memory")
            .queryName("ewma_chunked_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {r.event_id: r.ema for r in spark.table("ewma_chunked_test").collect()}
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) <= 1e-9 * max(1.0, abs(v)), k


def test_stream_static_join_matches_batch(spark, tmp_path):
    """Stream-static enrichment (no registry entry — pinned here): a
    readStream event flow joined to a static dimension inside the
    streaming query, drained in complete mode, must equal the batch
    join+agg."""
    events = load_table(spark, SF, "events")
    customers = load_table(spark, SF, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    src = str(tmp_path / "src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = (
        stream.join(customers, stream.user_id == customers.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sv"))
    )
    run_stream_to_memory(agg, "t_stream_static", output_mode="complete")
    got = {
        r.c_mktsegment: (r.n_events, round(r.sv, 6))
        for r in spark.table("t_stream_static").collect()
    }
    want = {
        r.c_mktsegment: (r.n_events, round(r.sv, 6))
        for r in events.join(
            customers, events.user_id == customers.c_custkey
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sv"))
        .collect()
    }
    assert got == want


def test_dedup_within_watermark_exactly_once(spark, tmp_path):
    """dropDuplicatesWithinWatermark over an at-least-once source
    (every data file fed twice) must emit each event exactly once
    (no registry entry — pinned here)."""
    import shutil, os

    events = load_table(spark, SF, "events").filter(F.col("event_id") < 300)
    clean = str(tmp_path / "clean")
    events.coalesce(1).write.parquet(clean)
    dup = str(tmp_path / "dup")
    shutil.copytree(clean, dup)
    for name in os.listdir(clean):
        if name.endswith(".parquet"):
            shutil.copy(os.path.join(clean, name), os.path.join(dup, "copy2_" + name))

    from stock_bars_data_engineering_project_spark.functions.scalars import as_event_time

    stream = (
        as_event_time(spark.readStream.schema(events.schema).parquet(dup))
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    run_stream_to_memory(stream, "t_dedup_wm", output_mode="append")
    got = sorted(r.event_id for r in spark.table("t_dedup_wm").collect())
    want = sorted(r.event_id for r in events.collect())
    assert got == want


def test_stream_outer_interval_join_matches_batch_in_closed_region(spark, tmp_path):
    """Left-outer stream-stream interval join: unmatched left rows are
    emitted only when the watermark closes their match window, so an
    availableNow drain equals the batch left-outer join everywhere the
    final watermark has passed — compare on that closed region (the
    tail, still inside an open window at end of input, is exactly the
    part a real stream would emit on the next batch)."""
    from stock_bars_data_engineering_project_spark.streaming.joins import (
        interval_join,
    )

    events = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select("event_id", "ts", "user_id", "event_type")
    )
    src = str(tmp_path / "src")
    events.write.parquet(src)

    purchases_s = stream_events(spark, src, events.schema).filter(
        F.col("event_type") == "purchase"
    )
    views_s = stream_events(spark, src, events.schema).filter(
        F.col("event_type") == "view"
    )
    out = interval_join(purchases_s, views_s, how="left_outer").select("l_event_id", "r_event_id")
    run_stream_to_memory(out, "t_outer_ij", output_mode="append")
    got = spark.table("t_outer_ij")

    from stock_bars_data_engineering_project_spark.functions.scalars import (
        as_event_time,
    )

    batch = as_event_time(events)
    purchases_b = batch.filter(F.col("event_type") == "purchase")
    views_b = batch.filter(F.col("event_type") == "view")
    want = interval_join(purchases_b, views_b, how="left_outer").select("l_event_id", "l_ts", "r_event_id")

    # closed region: watermark delay + match window behind max event time
    hi = batch.agg(F.max("ts")).first()[0]
    import datetime

    cut = hi - datetime.timedelta(hours=2)
    want_closed = want.filter(F.col("l_ts") < F.lit(cut)).drop("l_ts")

    left_ids = {
        r.l_event_id
        for r in purchases_b.filter(F.col("ts") < F.lit(cut))
        .select(F.col("event_id").alias("l_event_id"))
        .collect()
    }
    got_pairs = sorted(
        (r.l_event_id, r.r_event_id)
        for r in got.collect()
        if r.l_event_id in left_ids
    )
    want_pairs = sorted(
        (r.l_event_id, r.r_event_id) for r in want_closed.collect()
    )
    assert got_pairs == want_pairs
    # the outer semantics actually bit: some purchases had no view match
    assert any(rid is None for _, rid in want_pairs)


def test_stateful_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB streaming-state path swaps the in-memory HDFS-backed
    state store for RocksDB (bounded heap, spill-to-disk state). The
    custom stateful operator must behave identically on it."""
    from stock_bars_data_engineering_project_spark.streaming.stateful import (
        first_seen_per_key,
    )

    events = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    events.write.parquet(src)

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = spark.readStream.schema(events.schema).parquet(src)
        out = first_seen_per_key(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("t_first_seen_rocks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, old)
    got = {
        r.user_id: r.first_event_id
        for r in spark.table("t_first_seen_rocks").collect()
    }
    want = {
        r.user_id: r.event_id
        for r in events.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    assert got == want


def test_rollup_maintenance_stream_epoch_log(spark, tmp_path):
    """Streamed sketch-extended rollup maintenance: drains fold each
    micro-batch into an _epoch-partitioned increment; the read-time
    combine must equal a direct batch rollup over everything streamed,
    and a replayed epoch must be a no-op (structural idempotence)."""
    from stock_bars_data_engineering_project_spark.operators.rollup import (
        rollup_increment,
        rollup_metrics,
    )
    from stock_bars_data_engineering_project_spark.streaming.incremental import (
        read_rollup_state,
        rollup_maintenance_stream,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "value"
    )

    def _rows(df):
        cols = sorted(df.columns)

        def norm(v):
            return float(f"{v:.9g}") if isinstance(v, float) else str(v)

        return sorted(
            (tuple(norm(r[c]) for c in cols) for r in df.collect()), key=repr
        )

    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.write.mode("append").parquet(src)
    rollup_maintenance_stream(
        spark, src, first.schema, wh, "roll",
        checkpoint_dir=ckpt,
    )
    second.write.mode("append").parquet(src)
    rollup_maintenance_stream(
        spark, src, first.schema, wh, "roll",
        checkpoint_dir=ckpt,
    )

    want = _rows(rollup_metrics(rollup_increment(events)))
    assert _rows(rollup_metrics(read_rollup_state(wh, "roll"))) == want

    # replayed epoch: re-apply the last batch's increment at its epoch id
    # (at-least-once delivery) -> rewrites the same partition, no change
    epochs = [r["_epoch"] for r in wh.read("roll").select("_epoch").distinct().collect()]
    last = max(epochs)
    inc = rollup_increment(second)
    wh.merge(
        inc.withColumn("_epoch", F.lit(last)),
        "roll",
        keys=("user_id", "day", "_epoch"),
        partition_by=("_epoch",),
    )
    assert _rows(rollup_metrics(read_rollup_state(wh, "roll"))) == want


def test_gopher_gate_on_stream_matches_batch(spark, tmp_path):
    """The Gopher rule panel is map-only, so it applies to a readStream
    unchanged (no state, no watermark needed) — pin stream ≡ batch for
    the gate, the property that lets the corpus pipeline's stage 0 run
    at ingest time instead of in the nightly batch."""
    from stock_bars_data_engineering_project_spark.operators.quality import (
        gopher_panel,
    )

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    gated = gopher_panel(stream, min_words=10, min_distinct_stopwords=1).filter(
        "keep"
    ).select("doc_id")
    run_stream_to_memory(gated, "t_gopher_stream", output_mode="append")
    got = {r.doc_id for r in spark.table("t_gopher_stream").collect()}
    want = {
        r.doc_id
        for r in gopher_panel(docs, min_words=10, min_distinct_stopwords=1)
        .filter("keep")
        .select("doc_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_funnel_matches_batch_operator(spark, tmp_path):
    """Two event-time waves through a checkpointed availableNow drain:
    per-user funnel progress carried in the state store must reproduce
    the batch operator's per-step reach counts — including users whose
    later steps arrive in the SECOND wave (state continuation across
    the batch boundary)."""
    import time as _time

    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.functions.scalars import (
        event_micros,
    )
    from stock_bars_data_engineering_project_spark.operators.funnel import (
        funnel_steps,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table
    from stock_bars_data_engineering_project_spark.streaming.stateful import (
        funnel_stream,
    )

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("user_id") < 20)
        .select("user_id", "event_id", "ts", "event_type")
    )
    steps = ("view", "click", "purchase")
    expected = {
        r.step_idx: r.n_users for r in funnel_steps(events, steps).collect()
    }

    micros = event_micros(events, "ts")
    cut = events.agg(F.percentile(micros, F.lit(0.5))).first()[0]
    src = str(tmp_path / "src")
    events.filter(micros <= cut).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # distinct mtimes: file source orders oldest-first
    events.filter(micros > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        funnel_stream(stream, steps)
        .writeStream.format("memory")
        .queryName("funnel_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("funnel_stream_test").collect()
    final = {}
    for r in rows:  # progress is monotone: max emission = final state
        final[r.user_id] = max(final.get(r.user_id, 0), r.step)
    got = {
        k: sum(1 for s in final.values() if s >= k)
        for k in range(1, len(steps) + 1)
    }
    assert got == expected


def test_streaming_funnel_state_continues_across_waves(spark, tmp_path):
    """Deterministic continuation: the view arrives in wave 1, the click
    only in wave 2 — the state store must remember wave 1's anchor for
    the step-2 advance, and an out-of-order click (before the
    remembered view) must NOT advance."""
    import datetime as dt
    import time as _time

    from stock_bars_data_engineering_project_spark.streaming.stateful import (
        funnel_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0)

    def _mk(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, event_type string"
        )

    wave1 = _mk([(1, 10, t0, "view"), (2, 20, t0, "view")])
    wave2 = _mk(
        [
            # user 1: click strictly after the wave-1 view -> advances
            (1, 11, t0 + dt.timedelta(minutes=5), "click"),
            # user 2: click at the SAME instant as its view -> no advance
            (2, 21, t0, "click"),
        ]
    )
    src = str(tmp_path / "src2")
    wave1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    wave2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(wave1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        funnel_stream(stream, ("view", "click"))
        .writeStream.format("memory")
        .queryName("funnel_stream_waves")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("funnel_stream_waves").collect()
    final = {}
    steps_seen = {}
    for r in rows:
        final[r.user_id] = max(final.get(r.user_id, 0), r.step)
        steps_seen.setdefault(r.user_id, set()).add(r.step)
    assert final == {1: 2, 2: 1}
    # user 1 really advanced ACROSS the wave boundary
    assert steps_seen[1] == {1, 2}


def test_streaming_funnel_no_emission_without_progress(spark, tmp_path):
    """A user whose events satisfy no funnel step must emit NOTHING
    (ADVICE r7): append volume tracks users WITH progress, not distinct
    users — a raw-emission consumer must not over-count. Also pins that
    progress-less users persist no state."""
    import datetime as dt

    from stock_bars_data_engineering_project_spark.streaming.stateful import (
        funnel_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0)
    wave = spark.createDataFrame(
        [
            (1, 10, t0, "view"),            # progress -> emits step 1
            (2, 20, t0, "scroll"),          # no step matched -> silent
            (3, 30, t0, "click"),           # step 2 without anchor -> silent
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    src = str(tmp_path / "src3")
    wave.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(wave.schema).parquet(src)
    q = (
        funnel_stream(stream, ("view", "click"))
        .writeStream.format("memory")
        .queryName("funnel_stream_silent")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("funnel_stream_silent").collect()
    assert {(r.user_id, r.step) for r in rows} == {(1, 1)}
