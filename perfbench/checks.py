"""Correctness checks: ETL table invariants after each run, and an
order-insensitive digest of each query result.

The query workloads run each row into a ``noop`` sink; the digest is
gathered on the same job by an ``Observation``, so it adds no stage.
It hashes every column of every row, and the run compares it against
``golden.json``. Doubles are compared at 7 significant digits, so a
different summation order cannot change the digest.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

FULL_START = dt.date(2025, 9, 1)
FULL_END = dt.date(2025, 9, 30)
INCREMENTAL_DAYS = 30  # a run with no end reads 30 days past its start


def _norm(col, dtype):
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.6e", col)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _norm(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_norm(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, (T.DecimalType, T.TimestampType, T.TimestampNTZType, T.DateType)):
        return col.cast("string")
    return col


def digest(df: DataFrame) -> dict:
    """Runs ``df`` into a ``noop`` sink and returns (rows, hsum, hxor)
    over its normalized, name-sorted columns, gathered by an
    ``Observation`` on the same job."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_norm(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("hsum"),
        F.bit_xor(h).alias("hxor"),
    ).write.mode("overwrite").format("noop").save()
    got = obs.get
    return {"rows": got["rows"], "hsum": got["hsum"] or 0, "hxor": got["hxor"] or 0}


def trading_days(start: dt.date, end: dt.date) -> list[dt.date]:
    return [
        start + dt.timedelta(days=i)
        for i in range((end - start).days + 1)
        if (start + dt.timedelta(days=i)).weekday() < 5
    ]


class EtlExpectation:
    """Tracks what the warehouse must hold after each run of one
    full-then-incremental cycle, independently of the package: the
    incremental window restarts at the checkpoint date and ends
    ``INCREMENTAL_DAYS`` later."""

    def __init__(self, n_tickers: int):
        self.n_tickers = n_tickers
        self.last_day: dt.date | None = None
        self.runs = 0

    def advance(self) -> None:
        if self.last_day is None:
            end = FULL_END
        else:
            end = self.last_day + dt.timedelta(days=INCREMENTAL_DAYS)
        self.last_day = trading_days(FULL_START, end)[-1]
        self.runs += 1

    @property
    def rows(self) -> int:
        return self.n_tickers * len(trading_days(FULL_START, self.last_day))

    @property
    def checkpoint(self) -> str:
        return f"{self.last_day.isoformat()}T04:00:00Z"


def check_etl(wh, cfg, info: dict, exp: EtlExpectation) -> list[str]:
    """Invariants after one ``run()``; returns the list of violations."""
    errors = []
    if "error" in info:
        errors.append(f"run error: {info['error']}")
    want_mode = "full" if exp.runs == 1 else "incremental"
    if info.get("mode") != want_mode:
        errors.append(f"mode {info.get('mode')!r}, expected {want_mode!r}")
    n, n_keys, latest = (
        wh.read(cfg.table)
        .agg(
            F.count(F.lit(1)),
            F.count_distinct("stock", "timestamp"),
            F.date_format(F.max("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        )
        .first()
    )
    if n != exp.rows:
        errors.append(f"{cfg.table} has {n} rows, expected {exp.rows}")
    if n_keys != n:
        errors.append(f"{cfg.table} has {n - n_keys} duplicate (stock, timestamp) keys")
    if latest != exp.checkpoint:
        errors.append(f"max timestamp {latest}, expected {exp.checkpoint}")
    n_analysis = wh.read(cfg.analysis_table).count()
    if n_analysis != n:
        errors.append(f"{cfg.analysis_table} has {n_analysis} rows, {cfg.table} has {n}")
    marks = (
        wh.read("check_points")
        .filter(F.col("table_name") == cfg.table)
        .select("latest_timestamp")
        .collect()
    )
    if [r[0] for r in marks] != [exp.checkpoint]:
        errors.append(f"checkpoint {[r[0] for r in marks]}, expected {exp.checkpoint}")
    n_log = wh.read(cfg.log_table).count()
    if n_log != 2 * exp.runs:
        errors.append(f"{cfg.log_table} has {n_log} rows after {exp.runs} runs")
    return errors
