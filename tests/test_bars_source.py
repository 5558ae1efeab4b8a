"""S1: the stockbars Python DataSource — schema, per-symbol parallelism,
offline determinism, date-bounded extraction."""

from __future__ import annotations

from stock_bars_data_engineering_project_spark.sources.bars_source import register


def _read(spark, **opts):
    register(spark)
    reader = (
        spark.read.format("stockbars")
        .option("symbols", opts.pop("symbols", "AAPL,MSFT"))
        .option("start", opts.pop("start", "2025-09-01"))
        .option("end", opts.pop("end", "2025-09-30"))
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_schema_and_shape(spark):
    df = _read(spark)
    assert df.columns == ["symbol", "c", "h", "l", "n", "o", "t", "v", "vw"]
    rows = df.collect()
    # 21 trading days in Sept 2025 x 2 symbols (weekday generator)
    assert len(rows) == 44 or len(rows) == 42  # independent of tz edge
    assert {r.symbol for r in rows} == {"AAPL", "MSFT"}
    assert all(r.l <= r.o <= r.h and r.l <= r.c <= r.h for r in rows)
    assert all(r.t.endswith("T04:00:00Z") for r in rows)


def test_partition_per_symbol(spark):
    df = _read(spark, symbols="AAPL,MSFT,GOOG")
    assert df.rdd.getNumPartitions() == 3


def test_offline_determinism(spark):
    a = sorted(map(tuple, _read(spark).collect()))
    b = sorted(map(tuple, _read(spark).collect()))
    assert a == b
