"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the usable cores);
prints ONE JSON line.

Timing uses a ``noop``-format write so every column of the result is
fully materialized through the physical plan (a ``count()`` would let
Catalyst prune the expensive window/score columns away).

Every default run ALSO sweeps the DuckDB oracle over the same benched
queries in the same invocation (round 10): the headline criterion's
ratio is only honest when its numerator and denominator are measured
same-session, same-machine, same-parquet — a stale oracle total from a
prior round silently diverges as benched arms evolve. The JSON line
therefore carries ``duckdb_total`` + ``queries_duckdb`` +
``ratio_steady_vs_duckdb`` computed from this run's numbers only.
``--duckdb`` still runs the oracle sweep alone; ``--no-duckdb`` skips
it (iteration mode).

``python bench.py [row ...]``: positional registry row names run only
those rows (default: ``BENCH_QUERIES``). Each row's cold run and best
steady run are also split into build seconds (plan construction:
Python, py4j and the eager build chains) and exec seconds (the noop
write) under ``queries_build`` / ``queries_exec`` /
``queries_steady_build`` / ``queries_steady_exec``; ``memo_counts``
carries ``memo.counts()``, the build-once hits and misses of the run.
"""

from __future__ import annotations

import json
import os
import sys
import time

from stock_bars_data_engineering_project_spark.session import local_cpus

# Round-2 registry consolidation renamed/merged some headliners:
#   q1_pricing_summary+rollup_pricing -> q1_pricing_rollup
#   topk_per_group -> topk_per_group_salted (same oracle, skew-proof plan)
#   win_tumbling_daily+win_sliding_2h+win_session_2h -> win_windows_suite
#   text_quality_score/text_fingerprint/... -> text_metrics
#   tfidf_top_terms+vocab_topk -> tfidf_vocab_suite
#   q3_shipping_priority dropped (q10 covers the TakeOrdered shape)
BENCH_QUERIES = [
    "flagship_analysis",
    "q1_pricing_rollup",
    "j1_dim_join",
    "q5_region_volume",
    "q10_returned_items",
    "topk_per_group_salted",
    "s6_sql_cte_chain",
    "win_windows_suite",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "dedup_embedding_pairs",
    "text_metrics",
    "decontam_suite",
    "resample_ohlc_daily",
    "ann_topk_suite",
    "asof_join_marks",
    "ewma_per_user",
    "set_ops_suite",
    "tfidf_vocab_suite",
    "bm25_topk_docs",
    "incremental_merge_upsert",
]


STEADY_REPEATS = 2

METHODOLOGY = (
    "cold = first execution per query in a warmed session (plan compile "
    "+ codegen included); steady = min of the next "
    f"{STEADY_REPEATS} executions with an explicit JVM System.gc() "
    "before each query's runs, so one query's heap garbage cannot land "
    "as a full-GC pause inside another's timing — the min-of-N + gc "
    "fence is what makes round-over-round steady deltas decision-grade "
    "on a long-lived "
    f"local[{local_cpus()}] JVM with a "
    "{driver_memory} driver heap"
)


def _run(q, spark, sf_dir: str) -> tuple[float, float]:
    """(build, exec) seconds of one run: plan construction (Python,
    py4j and the eager build chains) apart from the noop-sink write."""
    t0 = time.time()
    df = q(spark, sf_dir)
    t1 = time.time()
    df.write.mode("overwrite").format("noop").save()
    return t1 - t0, time.time() - t1


def bench_spark(
    sf_dir: str, steady: bool = False, names: list[str] = BENCH_QUERIES
) -> tuple[dict[str, float], dict[str, float], dict[str, dict]]:
    """Cold times always; with ``steady``, the min of two further runs
    per query after whole-stage codegen/plan caches are warm — the
    number that predicts cluster-scale throughput, where the
    ~0.3-0.8 s first-run compile amortizes to ~0. A System.gc() fence
    before each query keeps cross-query GC pollution out of the
    timings (see METHODOLOGY, carried in the output payload).
    Round-over-round comparisons should use the steady column.

    The third value splits the cold run and the best steady run into
    build and exec seconds per query."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from stock_bars_data_engineering_project_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()
    # absorb one-time session/JVM/file-index costs outside the timings
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    times: dict[str, float] = {}
    steady_times: dict[str, float] = {}
    split: dict[str, dict] = {"build": {}, "exec": {}, "steady_build": {}, "steady_exec": {}}
    for name in names:
        spark.sparkContext._jvm.System.gc()
        build, run = _run(qs[name], spark, sf_dir)
        times[name] = round(build + run, 3)
        split["build"][name], split["exec"][name] = round(build, 3), round(run, 3)
        if steady:
            best = min(
                (_run(qs[name], spark, sf_dir) for _ in range(STEADY_REPEATS)),
                key=sum,
            )
            steady_times[name] = round(sum(best), 3)
            split["steady_build"][name] = round(best[0], 3)
            split["steady_exec"][name] = round(best[1], 3)
    return times, steady_times, split


def bench_duckdb(sf_dir: str, names: list[str] = BENCH_QUERIES) -> dict[str, float]:
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    con.sql(f"SET threads TO {local_cpus()}")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    times: dict[str, float] = {}
    for name in names:
        if name not in oracles:
            continue
        t0 = time.time()
        con.sql(oracles[name]).fetchall()
        times[name] = round(time.time() - t0, 3)
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # positional row names restrict the run to those registry rows
    names = [a for a in sys.argv[1:] if not a.startswith("--")] or BENCH_QUERIES
    if "--duckdb" in sys.argv:
        times = bench_duckdb(sf_dir, names)
        print(json.dumps({"engine": "duckdb", "queries": times, "sf": sf}))
        return
    # steady (second-run, codegen amortized) is ON by default so every
    # driver-recorded BENCH file carries the signal round-over-round
    # comparisons should use; --cold-only restores the single-run mode.
    steady = "--cold-only" not in sys.argv
    times, steady_times, split = bench_spark(sf_dir, steady=steady, names=names)
    out = {
        "metric": "headline query wall-clock, engine total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    # the cores this run had, so a reading is never compared across
    # machines by accident (get_spark returns the benched session)
    from stock_bars_data_engineering_project_spark.session import get_spark

    sc = get_spark("bench").sparkContext
    out["cpus"] = local_cpus()
    out["default_parallelism"] = sc.defaultParallelism
    if steady:
        out["value_steady"] = round(sum(steady_times.values()), 3)
        out["queries_steady"] = steady_times
        out["methodology"] = METHODOLOGY.format(
            driver_memory=sc.getConf().get("spark.driver.memory")
        )
    for part, secs in split.items():
        if secs:
            out[f"queries_{part}"] = secs
    from stock_bars_data_engineering_project_spark import memo

    out["memo_counts"] = memo.counts()
    if "--no-duckdb" not in sys.argv:
        # same-session oracle denominator — AFTER the Spark timings
        # (reading the parquet warms the page cache either way, but the
        # sweep must never run concurrently with a Spark timing); the
        # Spark JVM is stopped first so the sweep gets the idle machine
        from stock_bars_data_engineering_project_spark.session import get_spark

        get_spark("bench").stop()
        duck = bench_duckdb(sf_dir, names)
        out["queries_duckdb"] = duck
        out["duckdb_total"] = round(sum(duck.values()), 3)
        if steady and out["duckdb_total"] > 0:
            out["ratio_steady_vs_duckdb"] = round(
                out["value_steady"] / out["duckdb_total"], 3
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
