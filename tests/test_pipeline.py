"""End-to-end pipeline: full load -> incremental-with-overlap -> analysis
rebuild, golden-compared against DuckDB running (nearly verbatim) the
reference's analysis SQL
(/root/reference/etl_project/assets/sql/transform/stock_bars_analysis.sql).
"""

from __future__ import annotations

import contextlib
import time

import duckdb
import pytest

from stock_bars_data_engineering_project_spark.pipeline.stock_pipeline import (
    PipelineConfig,
    default_dim,
    extract_bars,
    run,
    transform_bars,
)
from stock_bars_data_engineering_project_spark.session import local_frame
from stock_bars_data_engineering_project_spark.sinks import ParquetWarehouse, get_checkpoint

# The reference SQL with :: casts spelled as CAST and rounding routed
# through the same decimal(30,10) intermediate the engine uses.
REFERENCE_ANALYSIS_SQL = """
WITH prev_close AS (
    SELECT stock, company, timestamp, close,
           LAG(close, 1) OVER (PARTITION BY stock ORDER BY timestamp) AS prev_close
    FROM stock_bars
), daily_returns AS (
    SELECT stock, company, timestamp,
           CAST(CAST(timestamp AS TIMESTAMP) AS DATE) AS date,
           close, prev_close,
           CAST(ROUND(CAST((close - prev_close) / NULLIF(prev_close, 0) AS DECIMAL(30,10)), 3) AS DOUBLE) AS daily_return
    FROM prev_close
)
SELECT stock, company, date, close, prev_close,
       CAST(ROUND(CAST(daily_return * 100 AS DECIMAL(30,10)), 1) AS DOUBLE) AS daily_return_pct,
       CAST(ROUND(CAST(AVG(close) OVER w AS DECIMAL(30,10)), 2) AS DOUBLE) AS moving_avg_5_day,
       CAST(ROUND(CAST(STDDEV(daily_return) OVER w AS DECIMAL(30,10)), 2) AS DOUBLE) AS stddev_5_day
FROM daily_returns
WINDOW w AS (PARTITION BY stock ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


@pytest.fixture()
def wh(spark, tmp_path):
    return ParquetWarehouse(spark, str(tmp_path / "wh"))


def test_full_then_incremental_run(spark, wh):
    cfg = PipelineConfig()
    dim = default_dim(spark)

    info1 = run(spark, wh, cfg, dim)
    assert "error" not in info1, info1
    assert info1["mode"] == "full"
    n_full = info1["rows"]
    assert n_full == 22 * 10  # 22 trading days in Sept 2025 x 10 tickers
    cp1 = get_checkpoint(wh, cfg.table)
    assert cp1 is not None and cp1.startswith("2025-09-30")

    # incremental: restarts FROM the checkpoint date (overlap, Q9);
    # source now extends 30 days past it
    info2 = run(spark, wh, cfg, dim)
    assert "error" not in info2, info2
    assert info2["mode"] == "incremental"
    assert info2["rows"] > n_full
    # overlap day re-read + merged idempotently: no duplicate keys
    dup = (
        wh.read(cfg.table)
        .groupBy("stock", "timestamp")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0
    assert get_checkpoint(wh, cfg.table) > cp1

    # third run adds nothing new beyond the overlap window re-read
    info3 = run(spark, wh, cfg, dim)
    assert "error" not in info3, info3
    assert info3["rows"] >= info2["rows"]


def test_analysis_matches_reference_sql(spark, wh, tmp_path):
    cfg = PipelineConfig()
    run(spark, wh, cfg, default_dim(spark))

    base = tmp_path / "stock_bars.parquet"
    # render timestamp as the ISO string the reference stores (Q1)
    from pyspark.sql import functions as F

    wh.read(cfg.table).withColumn(
        "timestamp", F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    ).toPandas().to_parquet(base)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW stock_bars AS SELECT * FROM '{base}'")
    golden = con.sql(REFERENCE_ANALYSIS_SQL).fetchall()
    got = [
        (
            r.stock,
            r.company,
            r.date,
            r.close,
            r.prev_close,
            r.daily_return_pct,
            r.moving_avg_5_day,
            r.stddev_5_day,
        )
        for r in wh.read(cfg.analysis_table).collect()
    ]
    assert sorted(map(repr, got)) == sorted(map(repr, golden))


def test_inner_join_drops_unknown_tickers_q7(spark):
    raw = extract_bars(spark, ["AAPL", "ZZZZ"], "2025-09-01", "2025-09-05")
    dim = default_dim(spark)
    out = transform_bars(raw, dim)
    assert out.filter("stock = 'ZZZZ'").count() == 0  # silently dropped
    assert out.filter("stock = 'AAPL'").count() > 0


def test_analysis_rebuild_runs_even_when_load_fails_q8(spark, wh):
    cfg = PipelineConfig()
    run(spark, wh, cfg, default_dim(spark))
    v_before = wh.latest_version(cfg.analysis_table)
    # break the load half: invalid load_method -> K5 dispatch raises
    bad = PipelineConfig(load_method="explode")
    info = run(spark, wh, bad, default_dim(spark))
    assert "error" in info
    # ...but the analysis table was still rebuilt (a NEW version exists)
    assert wh.latest_version(cfg.analysis_table) > v_before


def test_load_method_dispatch_overwrite(spark, wh):
    cfg = PipelineConfig(load_method="overwrite")
    info = run(spark, wh, cfg, default_dim(spark))
    assert "error" not in info
    assert wh.read(cfg.table).count() == 220


def _leaves(df) -> set[str]:
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


@contextlib.contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_local_frames_run_no_python_jobs(spark, wh):
    """default_dim and the checkpoint/log rows are JVM-local frames:
    their plans scan a LocalTableScan, collecting the dim's symbols
    (the one collect run() makes besides the watermark) submits no Spark
    job, and the run and checkpoint tables keep their schemas."""
    dim = default_dim(spark)
    row = local_frame(spark, [(1.5, "x")], "unix_ts double, log_message string")
    assert _leaves(dim) == _leaves(row) == {"LocalTableScan"}
    assert row.dtypes == [("unix_ts", "double"), ("log_message", "string")]

    sc = spark.sparkContext
    with _job_group(sc, "local-frame-dim"):
        symbols = dim.select("Symbol").collect()
    # a Python-RDD frame does submit a job; the status store is fed in
    # event order, so once the control job shows, the dim's would too
    with _job_group(sc, "local-frame-control"):
        spark.createDataFrame([("a",)], "s string").collect()
    deadline = time.time() + 10
    while not sc.statusTracker().getJobIdsForGroup("local-frame-control"):
        assert time.time() < deadline, "the control job never reached the status store"
        time.sleep(0.05)
    assert len(symbols) == 10
    assert list(sc.statusTracker().getJobIdsForGroup("local-frame-dim")) == []

    cfg = PipelineConfig()
    assert run(spark, wh, cfg, dim)["mode"] == "full"
    info = run(spark, wh, cfg, dim)
    assert info["mode"] == "incremental" and "error" not in info, info
    assert wh.read(cfg.log_table).dtypes == [
        ("timestamp", "timestamp"),
        ("log_message", "string"),
    ]
    assert wh.read("check_points").dtypes == [
        ("table_name", "string"),
        ("latest_timestamp", "string"),
    ]
