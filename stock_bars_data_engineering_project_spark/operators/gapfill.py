"""Time-series calendar completion — synthesize the missing (key, day)
rows of a daily series with forward-filled values (the "gap fill" every
bar-chart/backtest consumer needs: a day with no ticks still has a
carried close).

Scale shape: one tiny per-key span aggregate (2 values/key), a map-only
``sequence``+``explode`` to expand each key's own calendar (bounded by
that key's span — no global calendar cross join), one keyed left join
back to the observed rows, and one per-key ordered window for the
forward fill. The window sorts each key's CALENDAR rows (days, not raw
ticks) — even a 100-year key is ~36.5k rows per task, so per-key sort
skew is structurally bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def calendar_fill(
    bars: DataFrame,
    key: str,
    carry: tuple[str, ...],
) -> DataFrame:
    """Return ONLY the synthetic rows: one per ``day`` missing from
    ``bars`` inside each key's [min(day), max(day)] span, with every
    ``carry`` column forward-filled from the key's most recent observed
    row (an observed NULL also inherits the prior value — last
    non-null wins). Keys with a single observed day (or a dense
    calendar) contribute nothing. Composes by union: the caller decides
    how synthetic rows are marked and which columns they synthesize.

    ``bars`` must be day-unique per key (the output of a daily
    resample); the first span day is observed by construction, so every
    synthetic row has a defined carry value.
    """
    clash = {"__gap_lo", "__gap_hi", "__gap_obs"} & set(bars.columns)
    if clash:
        raise ValueError(
            f"calendar_fill uses reserved column(s) {sorted(clash)}; "
            "rename them on the input first"
        )
    spans = bars.groupBy(key).agg(
        F.min("day").alias("__gap_lo"), F.max("day").alias("__gap_hi")
    )
    cal = spans.select(
        key,
        F.explode(F.sequence("__gap_lo", "__gap_hi")).alias("day"),
    )
    observed = bars.select(
        key, "day", *carry, F.lit(True).alias("__gap_obs")
    )
    joined = cal.join(observed, [key, "day"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = joined.select(
        key,
        "day",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carry],
        "__gap_obs",
    )
    return filled.filter(F.col("__gap_obs").isNull()).drop("__gap_obs")
