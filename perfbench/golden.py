"""Regenerate ``golden.json``: the expected digest of each benchmarked
query on each committed data set.

    python3 perfbench/golden.py

Before a digest is written, the Spark result is compared row for row
(as an order-insensitive multiset, doubles at 7 significant digits)
with the query's DuckDB oracle twin from the registry over the same
parquet files. A mismatch aborts without writing anything.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from checks import digest  # noqa: E402
from worker import QUERIES  # noqa: E402

DATA_SETS = ("sf0.01", "sf0.001")


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else "%.6e" % v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def main() -> int:
    import duckdb

    from stock_bars_data_engineering_project_spark.plans import get_oracle_sql, get_queries
    from stock_bars_data_engineering_project_spark.session import get_spark

    spark = get_spark("perfbench-golden")
    queries, oracles = get_queries(), get_oracle_sql()
    golden: dict = {}
    for data in DATA_SETS:
        sf_dir = os.path.join(HERE, "data", data)
        con = duckdb.connect()
        for fname in sorted(os.listdir(sf_dir)):
            table = fname.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{fname}'")
        golden[data] = {}
        for name in QUERIES:
            df = queries[name](spark, sf_dir)
            mine = multiset(df.collect(), df.columns)
            rel = con.sql(oracles[name])
            theirs = multiset(rel.fetchall(), rel.columns)
            if mine != theirs:
                print(f"{data} {name}: Spark and DuckDB differ", file=sys.stderr)
                return 1
            golden[data][name] = digest(df)
            print(data, name, len(mine), "rows match the oracle", golden[data][name])
    spark.stop()
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
