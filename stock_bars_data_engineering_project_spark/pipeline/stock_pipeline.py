"""The reference-parity ETL pipeline (SURVEY §3.1, C3/C4, K5, Q8/Q9).

Full-vs-incremental branch, checkpointed extraction with deliberate
overlap, rename/join/project transform, dispatched load, watermark save,
and the always-runs analysis-table rebuild — the reference's
``pipeline()`` control flow (/root/reference/etl_project/pipelines/
stock_bars.py:33-134) re-expressed over Spark primitives:

    extract   stockbars DataSource (S1)         — partition-per-symbol
    transform rename map + broadcast dim join + fixed projection (P1-P3, J1)
    load      warehouse append/overwrite/merge (K1/K2/K3 via K5 dispatch)
    analysis  bars_analysis window operator, full refresh (W1-W3, K4, Q8)

Every stage is a pure DataFrame transform — the driver only ever
collects the one watermark scalar (A1), so the pipeline's scale ceiling
is the cluster's, not the driver's. The dim's symbol list that ``run()``
collects is not data it pulls back: ``default_dim`` is a JVM-local
frame, and collecting it starts no Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analysis import bars_analysis
from ..session import local_frame
from ..sinks.checkpoint import get_checkpoint, save_checkpoint
from ..sinks.warehouse import ParquetWarehouse
from ..sources.bars_source import register as register_bars_source

# P1: the reference's rename map (assets.py:79-91) — API wire shape ->
# engine schema; symbol -> stock.
RENAME_MAP = {
    "symbol": "stock",
    "c": "close",
    "h": "high",
    "l": "low",
    "n": "number_of_trades",
    "o": "open",
    "t": "timestamp",
    "v": "volume",
    "vw": "volume_weighted_avg_price",
}

# P3: fixed output column order (assets.py:105-107).
COLUMN_ORDER = (
    "stock",
    "company",
    "timestamp",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "volume_weighted_avg_price",
    "number_of_trades",
)

MERGE_KEYS = ("stock", "timestamp")


@dataclass
class PipelineConfig:
    """stock_bars.yaml equivalent (load_method/table names)."""

    table: str = "stock_bars"
    analysis_table: str = "stock_bars_analysis"
    log_table: str = "pipeline_metadata"
    load_method: str = "upsert"  # insert | upsert | overwrite (K5)
    full_load_start: str = "2025-09-01"
    full_load_end: str = "2025-09-30"
    symbols_csv: str | None = None  # dim CSV path; None -> packaged default
    extra_source_options: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_yaml(cls, path: str) -> "PipelineConfig":
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f) or {}
        return cls(**raw)


def extract_bars(
    spark: SparkSession,
    symbols: list[str],
    start: str,
    end: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """S1 extract via the stockbars DataSource. ``start`` is the manual
    predicate pushdown F2 — the incremental date reaches the source as a
    read option, never as a post-scan filter."""
    register_bars_source(spark)
    reader = (
        spark.read.format("stockbars")
        .option("symbols", ",".join(symbols))
        .option("start", start)
    )
    if end:
        reader = reader.option("end", end)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def transform_bars(raw: DataFrame, dim: DataFrame) -> DataFrame:
    """P1 rename + X1 timestamp typing + J1 inner broadcast dim join
    (drops unknown tickers — Q7) + P2 drop + P3 fixed projection."""
    renamed = raw.withColumnsRenamed(RENAME_MAP).withColumn(
        "timestamp", F.to_timestamp("timestamp")  # X1; honest type (Q1)
    )
    joined = renamed.join(
        F.broadcast(dim), renamed.stock == dim.Symbol, "inner"
    ).withColumnRenamed("Company", "company")
    return joined.drop("Symbol", "Exchange").select(*COLUMN_ORDER)


def load_bars(
    wh: ParquetWarehouse, df: DataFrame, table: str, load_method: str
) -> None:
    """K5: dispatch over the three load methods (assets.py:111-143)."""
    if load_method == "insert":
        wh.append(df, table)
    elif load_method == "upsert":
        wh.merge(df, table, keys=MERGE_KEYS)
    elif load_method == "overwrite":
        wh.overwrite(df, table)
    else:
        raise ValueError(
            f"load_method must be insert|upsert|overwrite, got {load_method!r}"
        )


def rebuild_analysis(wh: ParquetWarehouse, cfg: PipelineConfig) -> None:
    """K4 + Q8: full refresh of the derived analytics table from the base
    table — the reference's drop-and-CTAS transform, executed even when
    the load half failed (separate try in run())."""
    bars = wh.read(cfg.table)
    out = bars_analysis(
        bars, key="stock", ts="timestamp", value="close", carry_cols=("company",)
    ).withColumnsRenamed(
        {
            "value": "close",
            "prev_value": "prev_close",
            "return_pct": "daily_return_pct",
            "moving_avg": "moving_avg_5_day",
            "moving_stddev": "stddev_5_day",
        }
    )
    wh.overwrite(out, cfg.analysis_table)


def run(
    spark: SparkSession,
    wh: ParquetWarehouse,
    cfg: PipelineConfig,
    dim: DataFrame,
) -> dict:
    """C3: full-vs-incremental branch keyed on table existence
    (stock_bars.py:36-89), then extract→transform→load→checkpoint, then
    the analysis rebuild in its own try (Q8)."""
    symbols = [r.Symbol for r in dim.select("Symbol").collect()]
    info: dict = {"mode": None, "rows": 0}
    err: Exception | None = None
    try:
        checkpoint = get_checkpoint(wh, cfg.table) if wh.exists(cfg.table) else None
        if checkpoint is not None:
            # C4/Q9: restart FROM the checkpoint DATE (inclusive — the
            # string slice stock_bars.py:43) to re-read possibly-late bars;
            # the keyed merge makes the overlap idempotent. That
            # idempotency is load-method-specific: a plain append would
            # re-insert the whole overlap day on every run (the
            # reference's PG INSERT would raise on the duplicate PKs —
            # fail as loudly here instead of silently double-counting).
            if cfg.load_method == "insert":
                raise ValueError(
                    "incremental runs re-read the checkpoint day; "
                    "load_method='insert' would duplicate it — use "
                    "'upsert' (reference default) or 'overwrite'"
                )
            start = checkpoint[:10]
            info["mode"] = "incremental"
            raw = extract_bars(spark, symbols, start, options=cfg.extra_source_options)
        else:
            info["mode"] = "full"
            raw = extract_bars(
                spark,
                symbols,
                cfg.full_load_start,
                cfg.full_load_end,
                options=cfg.extra_source_options,
            )
        df = transform_bars(raw, dim)
        load_bars(wh, df, cfg.table, cfg.load_method)
        # A2 row count + A1 watermark in ONE scan. The watermark string
        # is formatted JVM-SIDE (session timezone, pinned UTC): a
        # collected TimestampType renders through the DRIVER's local
        # timezone, so strftime on it would mislabel the wall time with
        # 'Z' whenever driver tz != session tz — shifting the next
        # incremental window and silently skipping late bars.
        n_rows, latest = (
            wh.read(cfg.table)
            .agg(
                F.count(F.lit(1)),
                F.date_format(F.max("timestamp"), "yyyy-MM-dd'T'HH:mm:ss"),
            )
            .first()
        )
        info["rows"] = n_rows
        if latest is not None:
            save_checkpoint(wh, cfg.table, latest + "Z")
        wh.log(cfg.log_table, f"pipeline {info['mode']} load ok: {info['rows']} rows")
    except Exception as e:  # noqa: BLE001 — mirrors reference control flow
        err = e
        wh.log(cfg.log_table, f"pipeline load FAILED: {e}")
    # Q8: analysis rebuild runs regardless of load success, in its own try
    try:
        if wh.exists(cfg.table):
            rebuild_analysis(wh, cfg)
            wh.log(cfg.log_table, "analysis rebuild ok")
    except Exception as e:  # noqa: BLE001
        wh.log(cfg.log_table, f"analysis rebuild FAILED: {e}")
        if err is None:
            err = e
    if err is not None:
        info["error"] = str(err)
    return info


def default_dim(spark: SparkSession) -> DataFrame:
    """The 10-ticker dimension (reference CSV
    etl_project/data/top_tech_stock_symbol.csv) as an inline frame,
    planned as a JVM ``LocalTableScan``: ``run()``'s symbol collect runs
    no Spark job, and the broadcast join starts no Python worker."""
    rows = [
        ("Apple", "AAPL", "NASDAQ"),
        ("Microsoft", "MSFT", "NASDAQ"),
        ("Amazon", "AMZN", "NASDAQ"),
        ("Alphabet (Google)", "GOOGL", "NASDAQ"),
        ("Meta Platforms (Facebook)", "META", "NASDAQ"),
        ("Tesla", "TSLA", "NASDAQ"),
        ("NVIDIA", "NVDA", "NASDAQ"),
        ("Adobe", "ADBE", "NASDAQ"),
        ("Salesforce", "CRM", "NYSE"),
        ("Intel", "INTC", "NASDAQ"),
    ]
    return local_frame(spark, rows, "Company string, Symbol string, Exchange string")
