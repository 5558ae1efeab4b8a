"""Generate PLANS.md: one row per registered batch query summarizing
its physical plan — join strategies, exchange count, pushed filters,
Python stages — so plan quality is reviewable at a glance and
regressions show up as a diff of a committed artifact.

Usage: python tools/plan_report.py [> PLANS.md is done internally]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_bars_data_engineering_project_spark.plans import QUERIES  # noqa: E402
from stock_bars_data_engineering_project_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

_MARKERS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "WindowGroupLimit",
    "TakeOrderedAndProject",
    "Expand",
    "Generate",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapGroupsWithStateInPandas",
    "Union",
]


def summarize(plan: str) -> tuple[str, int, bool]:
    # formatted explain = tree, blank line, then numbered node details;
    # count markers in the tree only (details would double-count)
    tree = plan.split("\n\n", 1)[0]
    found = []
    for m in _MARKERS:
        n = len(re.findall(rf"\b{m}\b", tree))
        if n:
            found.append(m if n == 1 else f"{m}x{n}")
    # substring match, not \bExchange\b: a word boundary never fires
    # between 'Broadcast' and 'Exchange', so BroadcastExchange nodes
    # were invisible to the count the header claims includes broadcasts.
    # ReusedExchange reuses an already-materialized exchange — it is not
    # an additional shuffle, so subtract it from the raw substring count.
    n_exchange = tree.count("Exchange") - tree.count("ReusedExchange")
    pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
    return ", ".join(found) or "scan/project", n_exchange, pushed


def main() -> None:
    spark = get_spark("plan_report")
    lines = [
        "# PLANS — physical-plan summary of every registered batch query",
        "",
        "Auto-generated by `python tools/plan_report.py` at sf0.001 (plan",
        "shapes are SF-independent up to AQE thresholds). `exch` counts",
        "Exchange nodes (shuffles/broadcasts materialized), excluding",
        "ReusedExchange; `pushed` marks a non-empty PushedFilters on a",
        "parquet scan. Streaming-drain queries are excluded (they execute",
        "on call). Queries that EXECUTE during construction — iterative",
        "connected components (dedup_minhash_clusters), warehouse-writing",
        "rows (incremental_dedup_two_batch), driver-side model fits",
        "(pca_project's stats pass) — show only their RESULT plan here;",
        "their heavy lifting is audited via the operator plans they call",
        "(see source docstrings) and the SCALING.md soak curves.",
        "",
        "| query | physical operators | exch | pushed |",
        "|---|---|---|---|",
    ]
    for name, spec in sorted(QUERIES.items()):
        if name.startswith("stream_"):
            continue
        df = spec.fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        ops, n_exch, pushed = summarize(buf.getvalue())
        lines.append(f"| {name} | {ops} | {n_exch} | {'y' if pushed else '-'} |")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines) - 10} queries)")


if __name__ == "__main__":
    main()
