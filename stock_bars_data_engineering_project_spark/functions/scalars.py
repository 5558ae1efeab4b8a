"""Scalar expression helpers (SURVEY §2.6, X1-X8).

All JVM-side Column expressions — no Python UDFs — so they stay inside
whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def nullif_zero(col: Column) -> Column:
    """X4 — NULLIF(col, 0): division-by-zero guard (SURVEY Q2; reference
    SQL /root/reference/etl_project/assets/sql/transform/stock_bars_analysis.sql:21).
    Spark's non-ANSI mode already yields NULL on /0, but the explicit guard
    keeps semantics identical under ``spark.sql.ansi.enabled=true``."""
    return F.nullif(col, F.lit(0))


def round_half_up(col: Column, scale: int) -> Column:
    """X3 — ROUND(x, n), HALF_UP, stable across engines.

    Naive ``round(double, n)`` differs between engines on boundary values:
    Spark rounds the double's exact decimal expansion (BigDecimal HALF_UP),
    DuckDB/Postgres round a scaled double (``x*10^n`` reintroduces FP
    error), so ~0.1% of rows disagree at the target digit. Routing through
    an intermediate ``decimal(30,10)`` makes both engines round the same
    exact decimal; oracles use ``sql_round()`` for the identical SQL form.
    """
    return F.round(col.cast("decimal(30,10)"), scale).cast("double")


def sql_round(expr: str, scale: int) -> str:
    """ANSI-SQL twin of :func:`round_half_up` for DuckDB oracles."""
    return f"CAST(ROUND(CAST({expr} AS DECIMAL(30,10)), {scale}) AS DOUBLE)"


def guarded_ratio(numerator: Column, denominator: Column) -> Column:
    """The reference's daily-return expression (SURVEY Q2+Q3):
    ``round(num / nullif(den, 0), 3)`` — rounded FIRST, before any
    downstream use (the 5-row stddev runs over this rounded value)."""
    return round_half_up(numerator / nullif_zero(denominator), 3)


def event_micros(df, col: str) -> Column:
    """Epoch-microseconds ordering key for a timestamp column, robust to
    the physical flavor the source delivers. Parquet event-time columns
    arrive either as TIMESTAMP (instant; ``unix_micros`` applies
    directly) or TIMESTAMP_NTZ (naive wall time — ``unix_micros``
    rejects it), and which one a given snapshot of the data uses is a
    writer detail this engine must not depend on. The NTZ branch is
    pure timestamp arithmetic against the naive epoch — no timezone
    enters at any point, so the result is identical on any session
    timezone. RANGE window frames and sort keys built on this stay
    integer-exact to the microsecond either way."""
    from pyspark.sql import types as T

    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`)"
        )
    return F.unix_micros(F.col(col))


def as_event_time(df):
    """Return ``df`` with ``ts`` usable as a Structured Streaming event
    time: ``withWatermark`` requires TIMESTAMP proper, so a TIMESTAMP_NTZ
    column (naive wall time, UTC by this dataset's convention) is
    reinterpreted as a UTC instant via
    ``timestamp_micros(event_micros(...))`` — naive-epoch arithmetic
    followed by an epoch-instant constructor, neither of which consults
    the session timezone. (``to_utc_timestamp(ntz, 'UTC')`` does NOT
    have that property: its implicit NTZ->TIMESTAMP cast uses the
    session timezone and the 'UTC' conversion is then a no-op, i.e. it
    equals the bare cast — verified empirically on a non-UTC session.)
    TIMESTAMP columns pass through untouched."""
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        return df.withColumn("ts", F.timestamp_micros(event_micros(df, "ts")))
    return df
