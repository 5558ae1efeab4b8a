"""Exponential moving average per key — the canonical operator standard
SQL windows cannot express (each output depends recursively on the
previous output, not on a frame of inputs).

This is the designed escape hatch of the engine's operator taxonomy:
(a) compose built-ins when semantics allow; else Arrow-batched Python —
which EMA needs. Implementation detail that matters at scale: a naive
``groupBy(key).applyInPandas`` pays one Python/Arrow round-trip PER KEY
(measured ~7 s for 1.5k keys at soak x1); instead this runs ONE
``mapInPandas`` per partition over key-clustered, time-sorted rows —
the per-batch work is pandas' C ewm kernel per contiguous key run, and
a (key, last_ema) carry stitches runs that span Arrow batch boundaries.
Same single hash shuffle a window would cost, ~constant Python calls
per partition instead of per key.

For unbounded streams the identical recursion runs in
``streaming/stateful.ewma_stream`` with the EMA as store state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# smoothing factor of the batch and streaming EMA
ALPHA = 0.1


def ewma_per_key(df: DataFrame) -> DataFrame:
    """Per-``user_id`` EMA (``ALPHA``) of ``value`` ordered by (ts,
    event_id) into ``ema``, seeded at the first value
    (pandas ``ewm(adjust=False)`` semantics: y_1 = x_1). Emits the RAW
    double — cross-engine display rounding belongs to the caller
    (functions.scalars.round_half_up), not the kernel."""
    # output types follow the INPUT schema for the pass-through columns
    # (a string key or int tiebreak must not be force-cast to long)
    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        f"user_id {in_types['user_id']}, event_id {in_types['event_id']}, "
        f"ts {in_types['ts']}, value {in_types['value']}, ema double"
    )

    def _fold(batches):
        import pandas as pd

        carry_key = None
        carry_y = None
        for pdf in batches:
            if pdf.empty:
                continue
            # ExponentialMovingWindowGroupby: ONE Cython call per batch.
            # transform(lambda s: s.ewm(...)) would re-enter Python and
            # build a Series per key run — per-key overhead in exactly
            # the loop this operator exists to keep constant-per-batch.
            # The groupby-ewm result is (key, original-index)-indexed in
            # group-major order; dropping the key level and sorting the
            # original index restores row alignment.
            ema = (
                pdf.groupby("user_id", sort=False)["value"]
                .ewm(alpha=ALPHA, adjust=False)
                .mean()
                .droplevel(0)
                .sort_index()
            )
            first_key = pdf["user_id"].iloc[0]
            if carry_key is not None and first_key == carry_key:
                # this batch starts mid-run: reseed the first key's EMA
                # from the carried value (prepend, fold, drop the seed)
                mask = pdf["user_id"] == first_key
                seeded = pd.concat(
                    [pd.Series([carry_y]), pdf.loc[mask, "value"]],
                    ignore_index=True,
                )
                ema.loc[mask] = (
                    seeded.ewm(alpha=ALPHA, adjust=False).mean().iloc[1:].values
                )
            carry_key = pdf["user_id"].iloc[-1]
            carry_y = float(ema.iloc[-1])
            yield pdf.assign(ema=ema)[
                ["user_id", "event_id", "ts", "value", "ema"]
            ]

    clustered = (
        df.select("user_id", "event_id", "ts", "value")
        .repartition(F.col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
    )
    return clustered.mapInPandas(_fold, schema=out_schema)
