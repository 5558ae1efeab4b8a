"""S1 — the stock-bars API source as a Spark 4 Python DataSource.

The reference fetches bars driver-side from a REST endpoint
(``GET …/v2/stocks/bars?limit=1000&…`` with symbols/timeframe/start/end —
/root/reference/etl_project/connectors/alpaca_api.py:18-39) and flattens
the JSON in pandas. Spark-first, the source IS a DataSource: one input
partition per symbol, so extraction parallelizes across executors, the
``limit=1000`` per-request truncation cliff disappears (each partition
paginates independently), and the frame enters the engine already
distributed — no driver-side bottleneck at any symbol count.

Rows are emitted in the upstream API's wire shape — single-letter
columns ``c,h,l,n,o,t,v,vw`` plus ``symbol`` (meanings per the
reference's rename map, assets.py:79-91) — so the pipeline's rename/
typing transform does the same work it does in the reference.

Offline determinism: without API credentials the reader synthesizes a
seeded geometric-random-walk series per symbol (same rows for the same
options, forever). With ``ALPACA_API_KEY``/``ALPACA_SECRET_KEY`` set the
partition reader fetches over HTTPS instead — same schema either way.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

BARS_SCHEMA = (
    "symbol string, c double, h double, l double, n bigint, o double, "
    "t string, v bigint, vw double"
)

DEFAULT_SYMBOLS = "AAPL,MSFT,AMZN,GOOGL,META,TSLA,NVDA,ADBE,CRM,INTC"


def _trading_days(start: _dt.date, end: _dt.date) -> Iterator[_dt.date]:
    d = start
    while d <= end:
        if d.weekday() < 5:
            yield d
        d += _dt.timedelta(days=1)


def _seeded_unit(token: str) -> float:
    """Deterministic U(0,1) from a token — stable across processes
    (unlike hash()) so every executor generates identical data."""
    digest = hashlib.md5(token.encode()).digest()
    return int.from_bytes(digest[:8], "big") / 2**64


def synth_bars(
    symbol: str, start: _dt.date, end: _dt.date, seed: int = 42
) -> Iterator[tuple]:
    """Seeded geometric random walk in the API wire shape."""
    base = 20.0 + 980.0 * _seeded_unit(f"{seed}:{symbol}:base")
    close = base
    for day in _trading_days(start, end):
        tok = f"{seed}:{symbol}:{day.isoformat()}"
        drift = (_seeded_unit(tok + ":r") - 0.5) * 0.06
        o = close
        c = max(0.01, o * (1 + drift))
        spread = abs(drift) + 0.005
        h = max(o, c) * (1 + spread * _seeded_unit(tok + ":h"))
        low = min(o, c) * (1 - spread * _seeded_unit(tok + ":l"))
        v = int(1e5 + _seeded_unit(tok + ":v") * 1e7)
        n = int(1e3 + _seeded_unit(tok + ":n") * 1e5)
        vw = round((h + low + c) / 3, 4)
        ts = f"{day.isoformat()}T04:00:00Z"
        yield (symbol, round(c, 4), round(h, 4), round(low, 4), n, round(o, 4), ts, v, vw)
        close = c


def fetch_bars_rest(
    symbols: Sequence[str],
    start: str,
    end: str | None,
) -> dict[str, list[dict]]:
    """Live REST path (requires ALPACA_API_KEY/ALPACA_SECRET_KEY env).

    Mirrors the reference request (alpaca_api.py:18-39) but PAGINATES via
    ``next_page_token`` — the reference's single request silently truncates
    at 1000 bars (SURVEY §2.9); a scale-ready source must not.
    """
    key = os.environ.get("ALPACA_API_KEY")
    secret = os.environ.get("ALPACA_SECRET_KEY")
    if not key or not secret:
        raise NotImplementedError(
            "live REST fetch needs ALPACA_API_KEY/ALPACA_SECRET_KEY; "
            "offline runs use the seeded synthetic generator"
        )
    import requests  # gated: only the live path needs it

    out: dict[str, list[dict]] = {}
    params = {
        "symbols": ",".join(symbols),
        "timeframe": "1Day",
        "start": start,
        "limit": 1000,
        "adjustment": "raw",
        "feed": "sip",
        "sort": "asc",
    }
    if end:
        params["end"] = end
    url = "https://data.alpaca.markets/v2/stocks/bars"
    headers = {"APCA-API-KEY-ID": key, "APCA-API-SECRET-KEY": secret}
    while True:
        resp = requests.get(url, params=params, headers=headers, timeout=30)
        if resp.status_code != 200:
            raise RuntimeError(f"bars API error {resp.status_code}: {resp.text[:200]}")
        payload = resp.json()
        if "bars" not in payload:
            raise RuntimeError("bars API response missing 'bars'")
        for sym, bars in (payload["bars"] or {}).items():
            out.setdefault(sym, []).extend(bars)
        token = payload.get("next_page_token")
        if not token:
            return out
        params["page_token"] = token


class _SymbolPartition(InputPartition):
    def __init__(self, symbol: str):
        self.symbol = symbol


class StockBarsDataSource(DataSource):
    """``spark.read.format("stockbars").option("symbols", "AAPL,MSFT")
    .option("start", "2025-09-01").option("end", "2025-09-30").load()``"""

    @classmethod
    def name(cls) -> str:
        return "stockbars"

    def schema(self) -> str:
        return BARS_SCHEMA

    def reader(self, schema) -> "StockBarsReader":
        return StockBarsReader(self.options)


class StockBarsReader(DataSourceReader):
    def __init__(self, options):
        self.symbols = [
            s.strip()
            for s in options.get("symbols", DEFAULT_SYMBOLS).split(",")
            if s.strip()
        ]
        self.start = _dt.date.fromisoformat(options.get("start", "2025-09-01"))
        # no explicit end => "up to now": deterministically 30 days past
        # start (mirrors the reference's open-ended incremental extract)
        self.end = (
            _dt.date.fromisoformat(options["end"])
            if "end" in options
            else self.start + _dt.timedelta(days=30)
        )
        self.seed = int(options.get("seed", "42"))
        self.live = options.get("live", "false").lower() == "true"

    def partitions(self):
        # one partition per symbol: extraction scales with the symbol count
        return [_SymbolPartition(s) for s in self.symbols]

    def read(self, partition: _SymbolPartition) -> Iterator[tuple]:
        if self.live:
            bars = fetch_bars_rest(
                [partition.symbol], self.start.isoformat(), self.end.isoformat()
            ).get(partition.symbol, [])
            for b in bars:
                yield (
                    partition.symbol,
                    b.get("c"),
                    b.get("h"),
                    b.get("l"),
                    b.get("n"),
                    b.get("o"),
                    b.get("t"),
                    b.get("v"),
                    b.get("vw"),
                )
        else:
            yield from synth_bars(partition.symbol, self.start, self.end, self.seed)


def _ship_package(spark) -> None:
    """Make the package importable on executor Python workers.

    The DataSource class is cloudpickled BY REFERENCE, so workers must be
    able to ``import stock_bars_data_engineering_project_spark`` — true on a cluster only if the
    package is shipped. ``addPyFile`` of a package zip is the standard
    mechanism and works identically in local mode when the driver's cwd
    is elsewhere."""
    sc = spark.sparkContext
    if getattr(sc, "_sbde_pkg_shipped", False):
        return
    import shutil
    import tempfile

    import stock_bars_data_engineering_project_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(), "stock_bars_data_engineering_project_spark"),
        "zip",
        root_dir=repo_root,
        base_dir="stock_bars_data_engineering_project_spark",
    )
    sc.addPyFile(zip_path)
    sc._sbde_pkg_shipped = True


def register(spark) -> None:
    _ship_package(spark)
    spark.dataSource.register(StockBarsDataSource)
