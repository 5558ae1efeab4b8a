"""File sources (SURVEY §2.1: S3 csv scan, S5 full table scan, S6 ad-hoc SQL).

The reference scans PostgreSQL tables via SQLAlchemy
(``/root/reference/etl_project/connectors/postgresql.py:58-59``) and a
10-row CSV dimension (``/root/reference/etl_project/assets/assets.py:70-71``).
Here the durable store is columnar parquet: scans get predicate pushdown,
column pruning, and partition pruning from Catalyst for free — `.explain`
on any downstream query shows ``PushedFilters`` / ``ReadSchema`` reaching
the ``FileScan parquet`` node.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns stored as TIMESTAMP(NANOS) parquet, which Spark reads as long
# (nanos since epoch) under the legacy flag; truncated to micros on load —
# the same truncation DuckDB applies, so oracle comparisons line up.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def balance(df: DataFrame) -> DataFrame:
    """Spread rows across the session's default parallelism ahead of a
    CPU-heavy per-row stage (shingling, per-shingle hashing, regex
    scoring) — but ONLY when the upstream is actually starved. A coarse
    upstream — one fat single-row-group file, or a skewed post-filter
    remnant — leaves every core but a few idle, and a round-robin
    repartition of the projected columns is the standard fix. When the
    scan already yields >= defaultParallelism splits (the normal case at
    cluster scale, where 100 TB is hundreds of thousands of splits), an
    unconditional repartition would round-robin-shuffle the whole input
    for nothing, so it is skipped. The partition count probe is
    metadata-only: it compiles the plan but runs no job — and it reads
    the count off the INTERNAL row RDD: ``df.rdd`` would
    additionally build the Java-to-Python conversion plan plus the
    Python RDD wrapper per call (pure driver work), while
    the partition count is identical on both (the conversion is a
    partition-preserving map)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S5: full (prunable) scan of one parquet table."""
    nano_cols = _NANO_TS_COLS.get(name, ())
    if nano_cols:
        # Session-settable; done here (not only in get_spark) because the
        # driver harness constructs its own SparkSession.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in nano_cols:
        if isinstance(df.schema[c].dataType, T.LongType):
            # integer div: float division loses precision on epoch-nanos
            # (~1.7e18 > 2^53) and rounds, while DuckDB truncates.
            # Target type is TIMESTAMP_NTZ via pure naive-epoch
            # arithmetic — the same type the micros flavor delivers —
            # so to_date/date_format consumers are session-timezone
            # independent on BOTH flavors. (timestamp_micros() yields an
            # instant TimestampType: under a non-UTC driver session its
            # to_date shifts a day relative to the DuckDB oracle.)
            df = df.withColumn(
                c,
                F.expr(
                    f"timestampadd(MICROSECOND, `{c}` div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def load_events_since(
    spark: SparkSession, sf_dir: str, watermark_utc: str
) -> DataFrame:
    """F2 scan with the watermark predicate pushed THROUGH the
    nano-epoch encoding: ``events.ts`` is physically a long
    (TIMESTAMP(NANOS) parquet), so a filter on the post-conversion
    timestamp column cannot reach the scan. Instead the watermark is
    converted driver-side to an epoch-nanos literal (integer
    arithmetic — float multiplication would corrupt the low digits
    above 2^53) and compared against the RAW long column; `.explain`
    then shows ``PushedFilters: [GreaterThanOrEqual(ts, ...)]`` and on
    date-partitioned storage this same shape is partition pruning."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(watermark_utc).replace(tzinfo=timezone.utc)
    nanos = int(dt.timestamp()) * 1_000_000_000 + dt.microsecond * 1_000
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if isinstance(raw.schema["ts"].dataType, T.LongType):
        raw = raw.filter(F.col("ts") >= F.lit(nanos)).withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, `ts` div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    else:
        raw = raw.filter(F.col("ts") >= F.lit(watermark_utc).cast("timestamp"))
    return raw


def read_csv_dim(spark: SparkSession, path: str) -> DataFrame:
    """S3: header CSV dimension scan (reference: pd.read_csv of the
    10-row ticker dim) with an inferred schema; dims this small are
    broadcast by Catalyst at join time."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)
