"""Custom stateful streaming operators via ``applyInPandasWithState``.

Structured Streaming's built-ins (windowed aggs, dropDuplicates) cover
most state shapes; anything else — keyed first-seen dedup with explicit
state, per-key running extrema, custom session logic — is an
``applyInPandasWithState`` over a grouped stream: Spark shuffles rows to
their key's partition, hands each key's micro-batch slice to a Python
function together with that key's persisted state, and checkpoints the
state store per trigger. Arrow-batched, so the Python hop is columnar.

Scale posture: state lives in the executors' state stores (RocksDB
provider in production), partitioned by the grouping key — the operator
scales horizontally with key cardinality and never materializes more
than one key's batch slice per task.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import ema

# output: the first-seen event's fields (the key and event-time fields
# are built per call from the INPUT schema — a hardcoded TimestampType
# would localize a TIMESTAMP_NTZ wall time through the session timezone
# on the way out of Arrow, the session-tz dependence the engine pins
# against elsewhere)
_DEDUP_TAIL_FIELDS = [
    T.StructField("first_event_id", T.LongType()),
    T.StructField("first_value", T.DoubleType()),
]
DEDUP_STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def first_seen_per_key(events: DataFrame) -> DataFrame:
    """Keyed first-seen dedup as a custom stateful operator: one output
    row per ``user_id``, ever — the pattern behind streaming entity resolution
    and exactly-once side-effect gating. ``NoTimeout`` keeps keys
    forever; swap to ``EventTimeTimeout`` + ``state.setTimeoutTimestamp``
    to age keys out under a watermark (bounded state at 100 TB/day).

    The output's ``user_id`` and ``first_ts`` take the input's types
    (the ts/event_id/value event columns define "first").

    "First" is exact within one drain batch (the slice is sorted); a
    key whose events SPAN micro-batches emits the earliest event of the
    first batch it appears in — append mode cannot retract. For global
    first across unordered multi-batch arrival, delay emission under a
    watermark (EventTimeTimeout) instead; the availableNow single-batch
    drain the oracle checks has no such split."""
    out_schema = T.StructType(
        [
            T.StructField("user_id", events.schema["user_id"].dataType),
            T.StructField("first_ts", events.schema["ts"].dataType),
        ]
        + _DEDUP_TAIL_FIELDS
    )

    def _first_seen(
        key_t: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Emit the key's first event (by event time, event_id tiebreak)
        # the first time the key appears; afterwards the state swallows
        # every later arrival. Within one micro-batch the slice is
        # sorted explicitly — micro-batch order is not event-time order.
        if state.exists:
            return
        first = None
        for pdf in pdfs:
            if pdf.empty:
                continue
            cand = pdf.sort_values(["ts", "event_id"]).iloc[0]
            if first is None or (cand.ts, cand.event_id) < (
                first.ts,
                first.event_id,
            ):
                first = cand
        if first is None:
            return
        state.update((True,))
        yield pd.DataFrame(
            {
                "user_id": [key_t[0]],
                "first_ts": [first.ts],
                "first_event_id": [first.event_id],
                "first_value": [first.value],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _first_seen,
        outputStructType=out_schema,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# streaming EMA: per-key recursive state carried across micro-batches
EMA_STATE_SCHEMA = T.StructType([T.StructField("ema", T.DoubleType())])


def _ema_out_schema(events: DataFrame) -> T.StructType:
    """Output mirrors the input's own key/ts/value types (ts especially:
    TIMESTAMP_NTZ in, TIMESTAMP_NTZ out — a hardcoded instant type would
    localize wall times through the session timezone)."""
    it = {f.name: f.dataType for f in events.schema.fields}
    return T.StructType(
        [
            T.StructField("user_id", it["user_id"]),
            T.StructField("event_id", it["event_id"]),
            T.StructField("ts", it["ts"]),
            T.StructField("value", it["value"]),
            T.StructField("ema", T.DoubleType()),
        ]
    )


def _ewma_update():
    alpha = ema.ALPHA

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Fold the batch slice (event-time sorted) into the carried EMA.
        The recursion y_t = (1-a)y_{t-1} + a·x_t continues EXACTLY where
        the previous micro-batch left off — the state store holds one
        double per key, the streaming analog of operators/ema.py."""
        y = state.get[0] if state.exists else None
        # A key's micro-batch slice can arrive as MULTIPLE Arrow chunks
        # (maxRecordsPerBatch) in arbitrary order; sorting per chunk
        # would fold chunks out of event-time order. Concatenate the
        # whole slice first — per-key state any stateful op holds anyway.
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            return
        full = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        emas = []
        for x in full["value"]:
            y = x if y is None else (1.0 - alpha) * y + alpha * x
            emas.append(y)
        full = full.assign(ema=emas)
        yield full[["user_id", "event_id", "ts", "value", "ema"]]
        state.update((float(y),))

    return fn


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming per-key EMA at ``operators.ema.ALPHA``:
    applyInPandasWithState carries the last smoothed value per key
    across micro-batches, so a restarted or
    long-running stream emits the same series the batch operator
    (operators/ema.py) computes over the full history — pinned by test.
    Correctness requires event-time-ordered arrival across batches
    (guaranteed by an upstream watermark + sorted replay; within a batch
    the slice is sorted here)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_update(),
        outputStructType=_ema_out_schema(events),
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _funnel_state_schema(n: int) -> T.StructType:
    return T.StructType(
        [T.StructField(f"t{i}", T.LongType()) for i in range(n)]
    )


def _funnel_update(steps: tuple):
    n = len(steps)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Advance the per-user funnel progress (micros per satisfied
        step, prefix-shaped: t_i set only while t_{i-1} is set) over the
        event-time-sorted batch slice. Under ordered arrival the first
        qualifying event IS the minimal qualifying event, so the carried
        state reproduces operators/funnel.funnel_steps' first-touch
        strict-order semantics exactly (pinned by test)."""
        prog = (
            [v for v in state.get] if state.exists else [None] * n
        )
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            return
        full = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        # only an actual step advance marks the user changed — emitting
        # (and persisting all-None state) on mere first sight would make
        # append volume track distinct users rather than users with
        # funnel progress, over-counting for raw-emission consumers
        changed = False
        for ts, et in zip(full["ts"], full["event_type"]):
            micros = ts.value // 1000
            for i in range(n):
                if prog[i] is not None or et != steps[i]:
                    continue
                if i == 0 or (
                    prog[i - 1] is not None and micros > prog[i - 1]
                ):
                    prog[i] = micros
                    changed = True
                break  # an event can satisfy at most its own type's step
        if changed:
            state.update(tuple(prog))
            step = 0
            for v in prog:
                if v is None:
                    break
                step += 1
            yield pd.DataFrame({"user_id": [key[0]], "step": [step]})

    return fn


def funnel_stream(
    events: DataFrame, steps: tuple = ("view", "click", "purchase")
) -> DataFrame:
    """Streaming ordered-funnel progress: applyInPandasWithState carries
    each user's satisfied-step timestamps across micro-batches and emits
    (user_id, step) whenever a user's progress changes — step counts
    over the emitted rows' per-user MAX reproduce the batch operator
    (operators/funnel.funnel_steps) because progress is monotone.
    Correctness requires event-time-ordered arrival across batches (the
    ewma_stream contract: upstream watermark + sorted replay; within a
    batch the slice is sorted here). State is n longs per user — bounded
    however long the stream runs."""
    it = {f.name: f.dataType for f in events.schema.fields}
    out = T.StructType(
        [
            T.StructField("user_id", it["user_id"]),
            T.StructField("step", T.IntegerType()),
        ]
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_update(tuple(steps)),
        outputStructType=out,
        stateStructType=_funnel_state_schema(len(steps)),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
