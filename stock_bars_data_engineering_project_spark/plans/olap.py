"""OLAP-variety queries: grouping sets, rank-family windows, per-group
percentiles, outer-join reconciliation, UNION ALL.

The reference's aggregate surface is max + count (SURVEY §2.4) and its
window surface is lag/avg/stddev (§2.5); these queries complete the
standard OLAP menu so a warehouse user switching engines finds every
shape they run today. All are single-shuffle plans: grouping-set
expansion happens map-side before the exchange, the rank family shares
one sort, and the outer join shuffles both pre-aggregated (tiny) sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import event_micros, round_half_up, sql_round
from ..operators.gapfill import calendar_fill
from ..sources.readers import load_table
from .registry import register


@register(
    "cube_order_counts",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS grouping_level,
       COUNT(*) AS n_orders,
       {sql_round('SUM(o_totalprice)', 2)} AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with GROUPING() disambiguation — all four
    grouping sets in one pass (map-side expansion, one exchange). The
    grouping_level column distinguishes a real NULL dimension value from
    a subtotal row, exactly as ANSI intends; complements rollup_pricing's
    hierarchy with the full lattice."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("grouping_level"),
        F.count(F.lit(1)).alias("n_orders"),
        round_half_up(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _metric_rows(
    frame: DataFrame, tag: str, group_key: Column, metrics: tuple
) -> DataFrame:
    """Unpivot ``metrics`` of ``frame`` into the suite's long format:
    one (tag, group_key, metric, value double) row per metric."""
    return (
        frame.select(
            group_key.alias("group_key"),
            *(F.col(m).cast("double").alias(m) for m in metrics),
        )
        .melt(["group_key"], list(metrics), "metric", "value")
        .select(F.lit(tag).alias("tag"), "group_key", "metric", "value")
    )


_PSI_METRICS = ("psi", "n_ref", "n_cur", "n_bins")


@register(
    "stats_suite",
    oracle=f"""
WITH seg AS (
    SELECT c.c_mktsegment,
           {sql_round('quantile_cont(o.o_totalprice, 0.25)', 4)} AS p25,
           {sql_round('quantile_cont(o.o_totalprice, 0.5)', 4)} AS p50,
           {sql_round('quantile_cont(o.o_totalprice, 0.9)', 4)} AS p90,
           {sql_round('MAX(o.o_totalprice)', 2)} AS max_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
),
daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day, AVG(value) AS user_avg
    FROM events GROUP BY user_id, CAST(ts AS DATE)
),
market AS (
    SELECT CAST(ts AS DATE) AS day, AVG(value) AS mkt_avg
    FROM events GROUP BY CAST(ts AS DATE)
),
mkt AS (
    SELECT d.user_id,
           COUNT(*) AS n_days,
           {sql_round('corr(d.user_avg, m.mkt_avg)', 3)} AS market_corr
    FROM daily d JOIN market m ON d.day = m.day
    GROUP BY d.user_id
    HAVING COUNT(*) >= 5
),
hist AS (
    SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {sql_round('100.0 * COUNT(*) / (SELECT COUNT(*) FROM events)', 4)} AS pct
    FROM events
    GROUP BY 1
),
sketch AS (
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS exact_distinct_users,
           1.0 AS hll_within_5pct,
           1.0 AS p50_rank_within_tol
    FROM events
    GROUP BY event_type
),
mdays AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
    FROM events WHERE user_id IS NOT NULL
),
act AS (SELECT day, COUNT(*) AS active FROM mdays GROUP BY day),
kept AS (
    SELECT cur.day AS day, COUNT(*) AS retained
    FROM mdays cur JOIN mdays prev
      ON prev.user_id = cur.user_id AND prev.day = cur.day - 1
    GROUP BY cur.day
),
retn AS (
    SELECT a.day,
           CAST(a.active AS DOUBLE) AS active,
           CAST(COALESCE(k.retained, 0) AS DOUBLE) AS retained,
           CAST(p.active - COALESCE(k.retained, 0) AS DOUBLE) AS churned
    FROM act a
    JOIN act p ON p.day = a.day - 1
    LEFT JOIN kept k ON k.day = a.day
)
SELECT 'percentiles' AS tag, c_mktsegment AS group_key, 'p25' AS metric, p25 AS value FROM seg
UNION ALL
SELECT 'percentiles', c_mktsegment, 'p50', p50 FROM seg
UNION ALL
SELECT 'percentiles', c_mktsegment, 'p90', p90 FROM seg
UNION ALL
SELECT 'percentiles', c_mktsegment, 'max_price', max_price FROM seg
UNION ALL
SELECT 'corr', CAST(user_id AS VARCHAR), 'n_days', CAST(n_days AS DOUBLE) FROM mkt
UNION ALL
SELECT 'corr', CAST(user_id AS VARCHAR), 'market_corr', market_corr FROM mkt
UNION ALL
SELECT 'histogram', CAST(bucket AS VARCHAR), 'n', CAST(n AS DOUBLE) FROM hist
UNION ALL
SELECT 'histogram', CAST(bucket AS VARCHAR), 'pct', pct FROM hist
UNION ALL
SELECT 'sketch', event_type, 'exact_distinct_users', exact_distinct_users FROM sketch
UNION ALL
SELECT 'sketch', event_type, 'hll_within_5pct', hll_within_5pct FROM sketch
UNION ALL
SELECT 'sketch', event_type, 'p50_rank_within_tol', p50_rank_within_tol FROM sketch
UNION ALL
SELECT 'retention', CAST(day AS VARCHAR), 'active', active FROM retn
UNION ALL
SELECT 'retention', CAST(day AS VARCHAR), 'retained', retained FROM retn
UNION ALL
SELECT 'retention', CAST(day AS VARCHAR), 'churned', churned FROM retn
UNION ALL
SELECT 'cohort' AS tag, CAST(cohort_day AS VARCHAR) AS group_key,
       'd' || CAST(day_off AS VARCHAR) AS metric,
       CAST(n_users AS DOUBLE) AS value
FROM (
    SELECT f.cohort_day, (a.day - f.cohort_day) AS day_off,
           COUNT(*) AS n_users
    FROM (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
          FROM events) a
    JOIN (SELECT user_id AS u, MIN(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY user_id) f
      ON a.u = f.u
    WHERE (a.day - f.cohort_day) <= 7
    GROUP BY f.cohort_day, (a.day - f.cohort_day)
)
UNION ALL
SELECT 'psi' AS tag, event_type AS group_key, metric, value
FROM (
    WITH psi_cnt AS (
        SELECT event_type, bucket,
               SUM(is_ref) AS c_ref, SUM(1 - is_ref) AS c_cur
        FROM (
            SELECT event_type,
                   CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
                   CASE WHEN (CAST(ts AS DATE) - DATE '1970-01-01') % 2 = 0
                        THEN 1 ELSE 0 END AS is_ref
            FROM events
        )
        GROUP BY event_type, bucket
    ),
    psi_b AS (
        SELECT event_type, c_ref, c_cur,
               SUM(c_ref) OVER (PARTITION BY event_type) AS n_ref,
               SUM(c_cur) OVER (PARTITION BY event_type) AS n_cur,
               COUNT(*) OVER (PARTITION BY event_type) AS n_bins
        FROM psi_cnt
    ),
    psi_k AS (
        SELECT event_type,
               {sql_round(
                   "SUM(((c_ref + 1.0) / (n_ref + n_bins)"
                   " - (c_cur + 1.0) / (n_cur + n_bins))"
                   " * ln(((c_ref + 1.0) / (n_ref + n_bins))"
                   " / ((c_cur + 1.0) / (n_cur + n_bins))))", 6)} AS psi,
               CAST(MAX(n_ref) AS DOUBLE) AS n_ref,
               CAST(MAX(n_cur) AS DOUBLE) AS n_cur,
               CAST(MAX(n_bins) AS DOUBLE) AS n_bins
        FROM psi_b GROUP BY event_type
    )
    SELECT event_type, 'psi' AS metric, psi AS value FROM psi_k
    UNION ALL
    SELECT event_type, 'n_ref', n_ref FROM psi_k
    UNION ALL
    SELECT event_type, 'n_cur', n_cur FROM psi_k
    UNION ALL
    SELECT event_type, 'n_bins', n_bins FROM psi_k
)
UNION ALL
SELECT 'psi_stream' AS tag,
       event_type || '@d' || CAST(day_idx AS VARCHAR) AS group_key,
       metric, value
FROM (
    WITH scur AS (
        SELECT event_type,
               CAST(FLOOR(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day_idx,
               CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    sref AS (
        SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    sexp AS (
        SELECT w.event_type, w.day_idx, r.bucket, r.n AS c_ref
        FROM (SELECT DISTINCT event_type, day_idx FROM scur) w
        JOIN sref r ON w.event_type = r.event_type
    ),
    sboth AS (
        SELECT COALESCE(e.event_type, c.event_type) AS event_type,
               COALESCE(e.day_idx, c.day_idx) AS day_idx,
               COALESCE(e.c_ref, 0) AS c_ref,
               COALESCE(c.n, 0) AS c_cur
        FROM sexp e FULL OUTER JOIN scur c
          ON e.event_type = c.event_type AND e.day_idx = c.day_idx
         AND e.bucket = c.bucket
    ),
    sb AS (
        SELECT event_type, day_idx, c_ref, c_cur,
               SUM(c_ref) OVER (PARTITION BY event_type, day_idx) AS n_ref,
               SUM(c_cur) OVER (PARTITION BY event_type, day_idx) AS n_cur,
               COUNT(*) OVER (PARTITION BY event_type, day_idx) AS n_bins
        FROM sboth
    ),
    sp AS (
        SELECT event_type, day_idx,
               {sql_round(
                   "SUM(((c_ref + 1.0) / (n_ref + n_bins)"
                   " - (c_cur + 1.0) / (n_cur + n_bins))"
                   " * ln(((c_ref + 1.0) / (n_ref + n_bins))"
                   " / ((c_cur + 1.0) / (n_cur + n_bins))))", 6)} AS psi,
               CAST(MAX(n_ref) AS DOUBLE) AS n_ref,
               CAST(MAX(n_cur) AS DOUBLE) AS n_cur,
               CAST(MAX(n_bins) AS DOUBLE) AS n_bins
        FROM sb GROUP BY 1, 2
    )
    SELECT event_type, day_idx, 'psi' AS metric, psi AS value FROM sp
    UNION ALL
    SELECT event_type, day_idx, 'n_ref', n_ref FROM sp
    UNION ALL
    SELECT event_type, day_idx, 'n_cur', n_cur FROM sp
    UNION ALL
    SELECT event_type, day_idx, 'n_bins', n_bins FROM sp
)
UNION ALL
SELECT 'outliers' AS tag, event_type AS group_key, metric, value
FROM (
    WITH omed AS (
        SELECT event_type, {sql_round('quantile_cont(value, 0.5)', 6)} AS med
        FROM events GROUP BY event_type
    ),
    omad AS (
        -- MAD around the ROUNDED median (engine-identical input set);
        -- IS NOT DISTINCT FROM keeps a NULL event_type group alive
        SELECT e.event_type, m.med,
               {sql_round('quantile_cont(abs(e.value - m.med), 0.5)', 6)}
                   AS mad
        FROM events e
        JOIN omed m ON e.event_type IS NOT DISTINCT FROM m.event_type
        GROUP BY e.event_type, m.med
    ),
    ocnt AS (
        -- MAD=0 degenerate guard (operators/drift.mad_outliers): a
        -- zero-width fence reports NULL, not everything-off-median
        SELECT e.event_type, m.med, m.mad,
               CAST(COUNT(e.value) AS DOUBLE) AS n,
               CASE WHEN m.mad = 0 THEN NULL ELSE
                   CAST(SUM(CASE WHEN abs(e.value - m.med)
                                      > 3 * 1.4826 * m.mad
                                 THEN 1 ELSE 0 END) AS DOUBLE)
               END AS n_outliers
        FROM events e
        JOIN omad m ON e.event_type IS NOT DISTINCT FROM m.event_type
        GROUP BY e.event_type, m.med, m.mad
    )
    SELECT event_type, 'median' AS metric, med AS value FROM ocnt
    UNION ALL
    SELECT event_type, 'mad', mad FROM ocnt
    UNION ALL
    SELECT event_type, 'n', n FROM ocnt
    UNION ALL
    SELECT event_type, 'n_outliers', n_outliers FROM ocnt
)
UNION ALL
SELECT 'outliers_stream' AS tag,
       event_type || '@d' || CAST(day_idx AS VARCHAR) AS group_key,
       metric, value
FROM (
    WITH somed AS (
        SELECT event_type, {sql_round('quantile_cont(value, 0.5)', 6)} AS med
        FROM events GROUP BY event_type
    ),
    somad AS (
        SELECT e.event_type, m.med,
               {sql_round('quantile_cont(abs(e.value - m.med), 0.5)', 6)}
                   AS mad
        FROM events e
        JOIN somed m ON e.event_type IS NOT DISTINCT FROM m.event_type
        GROUP BY e.event_type, m.med
    ),
    socur AS (
        SELECT e.event_type,
               CAST(FLOOR(epoch_ms(e.ts) / 86400000.0) AS BIGINT) AS day_idx,
               CAST(COUNT(e.value) AS DOUBLE) AS n,
               CASE WHEN MAX(m.mad) = 0 THEN NULL ELSE
                   CAST(SUM(CASE WHEN abs(e.value - m.med)
                                      > 3 * 1.4826 * m.mad
                                 THEN 1 ELSE 0 END) AS DOUBLE)
               END AS n_outliers
        FROM events e
        JOIN somad m ON e.event_type IS NOT DISTINCT FROM m.event_type
        GROUP BY 1, 2
    )
    SELECT event_type, day_idx, 'n' AS metric, n AS value FROM socur
    UNION ALL
    SELECT event_type, day_idx, 'n_outliers', n_outliers FROM socur
)
UNION ALL
SELECT 'kanon' AS tag, 'documents:source+lang' AS group_key, metric, value
FROM (
    WITH kcls AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY source, lang
    ),
    krep AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_classes,
               CAST(MIN(n) AS DOUBLE) AS min_class_size,
               CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS n_below_k,
               CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS DOUBLE)
                   AS n_rows_at_risk
        FROM kcls
    )
    SELECT 'n_classes' AS metric, n_classes AS value FROM krep
    UNION ALL
    SELECT 'min_class_size', min_class_size FROM krep
    UNION ALL
    SELECT 'n_below_k', n_below_k FROM krep
    UNION ALL
    SELECT 'n_rows_at_risk', n_rows_at_risk FROM krep
)
UNION ALL
SELECT 'kanon' AS tag, 'documents:source->lang' AS group_key, metric, value
FROM (
    WITH lcls AS (
        -- distinct sensitive values per class; a NULL sensitive value
        -- counts as a value (COUNT(DISTINCT) skips it, so restore via
        -- the max-is-null term)
        SELECT source,
               COUNT(DISTINCT lang)
                   + MAX(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS l
        FROM documents GROUP BY source
    ),
    lrep AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_classes,
               CAST(MIN(l) AS DOUBLE) AS min_distinct_sensitive,
               CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS n_below_l
        FROM lcls
    )
    SELECT 'l_n_classes' AS metric, n_classes AS value FROM lrep
    UNION ALL
    SELECT 'min_distinct_sensitive', min_distinct_sensitive FROM lrep
    UNION ALL
    SELECT 'n_below_l', n_below_l FROM lrep
)
""",
)
def stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics family as one long-format (tag, group_key, metric,
    value) result: (a) exact interpolated per-segment percentiles of
    order value (Spark `percentile` ≡ DuckDB `quantile_cont`; exact is
    the correctness baseline — the 100 TB path swaps `approx_percentile`,
    a mergeable t-digest, with its error bounded in tests/test_stats.py);
    (b) per-key correlation to the market aggregate — two partial
    aggregates, a broadcast join on day, then partial-aggregable `corr`,
    so the plan shuffles key-sized data, never raw ticks (rounded to 3:
    running-moment accumulation order differs in the last ulps);
    (c) a fixed-width value histogram with percent-of-total — one
    partial-aggregable pass plus a broadcast scalar denominator.
    Melted JVM-side (Expand), tagged UNION — still three partial
    aggregates and zero extra scans."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            round_half_up(F.expr("percentile(o_totalprice, 0.25D)"), 4).alias("p25"),
            round_half_up(F.expr("percentile(o_totalprice, 0.5D)"), 4).alias("p50"),
            round_half_up(F.expr("percentile(o_totalprice, 0.9D)"), 4).alias("p90"),
            round_half_up(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )
    seg_arm = _metric_rows(
        seg, "percentiles", F.col("c_mktsegment"), ("p25", "p50", "p90", "max_price")
    )
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("user_avg")
    )
    market = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("mkt_avg")
    )
    mkt = (
        daily.join(F.broadcast(market), "day")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            round_half_up(F.corr("user_avg", "mkt_avg"), 3).alias("market_corr"),
        )
        .filter(F.col("n_days") >= 5)
    )
    mkt_arm = _metric_rows(
        mkt, "corr", F.col("user_id").cast("string"), ("n_days", "market_corr")
    )
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    hist = (
        ev.groupBy(F.floor(F.col("value") / 10.0).cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n",
            round_half_up(100.0 * F.col("n") / F.col("total"), 4).alias("pct"),
        )
    )
    hist_arm = _metric_rows(
        hist, "histogram", F.col("bucket").cast("string"), ("n", "pct")
    )
    # Sketch arm: the 100 TB operating point replaces exact DISTINCT and
    # exact percentile with mergeable sketches (HLL++, t-digest) — a
    # single combinable pass with bounded state instead of a shuffle of
    # every distinct value. Oracle-pairing an approximation directly
    # would be flaky by construction, so the CONTRACT is what's checked:
    # the exact value (both engines) plus within-tolerance flags that
    # collapse to 1.0 when the sketch honors its error bound (HLL at
    # rsd=0.01 given a 5% value band; the percentile sketch at
    # accuracy=10k given its RANK guarantee, checked against the
    # returned element's exact rank — see below) and hash-mismatch
    # against the oracle's literal 1.0 when it doesn't.
    sketch = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct_users"),
        F.approx_count_distinct("user_id", rsd=0.01)
        .cast("double")
        .alias("_hll"),
        F.percentile_approx("value", 0.5, 10000).alias("_p50_approx"),
        F.count("value").alias("_n_vals"),
    )
    # GK/KLL-style sketches bound RANK error (<= n/accuracy), not value
    # error — a distribution sparse around the median can put a large
    # value gap between adjacent ranks, so a value-tolerance flag is
    # corpus-dependent by construction. Check the sketch's actual
    # contract instead: compute the returned element's exact rank
    # interval [rank_lo+1, rank_hi] (ties widen it) with one extra
    # pre-aggregated pass over events joined to the broadcast 5-row
    # sketch, and flag 1.0 iff that interval comes within
    # n/accuracy (+1 element of boundary-convention slack) of the
    # target rank n/2. Second scan of events is fine here: this suite
    # is a verification surface, not a production pattern.
    # eqNullSafe join: groupBy keeps a NULL event_type group, and a
    # null-unsafe equi-join would drop it here, leaving NULL ranks that
    # collapse its flag to 0.0 against the oracle's literal 1.0
    approx = F.broadcast(
        sketch.select(
            F.col("event_type").alias("_et"), "_p50_approx"
        )
    )
    ranks = (
        ev.join(approx, ev["event_type"].eqNullSafe(approx["_et"]))
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.col("value") < F.col("_p50_approx")).cast("long")
            ).alias("_rank_lo"),
            F.sum(
                (F.col("value") <= F.col("_p50_approx")).cast("long")
            ).alias("_rank_hi"),
        )
    )
    ranks = ranks.select(
        F.col("event_type").alias("_ret"), "_rank_lo", "_rank_hi"
    )
    sketch = sketch.join(
        F.broadcast(ranks),
        sketch["event_type"].eqNullSafe(ranks["_ret"]),
        "left",
    ).drop("_ret")
    # zero/NULL guards: a group with no non-NULL users has exact = 0 and
    # the HLL trivially agrees (flag 1.0, matching the oracle literal) —
    # without the guard the 0/0 ratio is NULL and the flag would
    # collapse to 0.0; same for an all-NULL value column at the median
    sketch = sketch.select(
        "event_type",
        "exact_distinct_users",
        F.when(F.col("exact_distinct_users") == 0.0, 1.0)
        .when(
            F.abs(F.col("_hll") - F.col("exact_distinct_users"))
            / F.col("exact_distinct_users")
            <= 0.05,
            1.0,
        )
        .otherwise(0.0)
        .alias("hll_within_5pct"),
        F.when(F.col("_p50_approx").isNull(), 1.0)
        .when(
            (
                F.col("_rank_hi").cast("double")
                >= F.col("_n_vals") / 2.0 - F.col("_n_vals") / 10000.0 - 1.0
            )
            & (
                F.col("_rank_lo").cast("double") + 1.0
                <= F.col("_n_vals") / 2.0 + F.col("_n_vals") / 10000.0 + 1.0
            ),
            1.0,
        )
        .otherwise(0.0)
        .alias("p50_rank_within_tol"),
    )
    sketch_arm = _metric_rows(
        sketch,
        "sketch",
        F.col("event_type"),
        ("exact_distinct_users", "hll_within_5pct", "p50_rank_within_tol"),
    )
    # Theta-state retention (operators/sketches.py): day-over-day
    # retained/churned members computed ONLY from per-day sketch state.
    # Member cardinality at every driver SF is far below the sketch's
    # exact-mode threshold (2^12 retained hashes), so the estimates are
    # exactly the set-algebra counts and the oracle recomputes them with
    # a raw self-join — the row gates the sketch path against exact set
    # intersection cross-engine. NULL members are excluded on both
    # sides (theta_sketch_agg skips NULLs; the oracle filters).
    from ..operators.sketches import member_day_sets, retention_day_over_day

    ret = retention_day_over_day(
        member_day_sets(ev.filter(F.col("user_id").isNotNull()))
    )
    ret_arm = _metric_rows(
        ret, "retention", F.col("day").cast("string"), ("active", "retained", "churned")
    )
    # (f) cohort retention triangle (operators/funnel.py
    # cohort_retention): users cohort by first active day; each
    # (cohort_day, offset<=7) cell counts members active exactly that
    # many days later. Complements the day-over-day Theta-sketch
    # retention above (which asks "of yesterday's actives, how many
    # returned?") with the acquisition-cohort view every growth
    # dashboard wants. All stages reduce to user- or user-day
    # cardinality before joining.
    from ..operators.funnel import cohort_retention

    cohort_arm = cohort_retention(ev).select(
        F.lit("cohort").alias("tag"),
        F.col("cohort_day").cast("string").alias("group_key"),
        F.concat(F.lit("d"), F.col("offset").cast("string")).alias(
            "metric"
        ),
        F.col("n_users").cast("double").alias("value"),
    )
    # (g) PSI distribution drift (operators/drift.py): the
    # standard model-monitoring statistic, computed per event type as
    # temporal drift — reference = even epoch-day rows, current = odd —
    # over fixed-width value bins with Laplace smoothing on the
    # observed bin support. The audit integers (populations, bin count)
    # ride along as metrics so the gate covers the inputs, not just the
    # one rounded double.
    from ..operators.drift import psi_drift

    day_idx = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    psi_arm = _metric_rows(
        psi_drift(ev, is_reference=day_idx % 2 == 0),
        "psi",
        F.col("event_type"),
        _PSI_METRICS,
    )
    # (h) STREAMING drift: the monitoring loop a production
    # pipeline actually runs — a REAL readStream drain aggregates each
    # day-window's value histogram per event type (day index =
    # floor(epoch_us / 86.4e9), a session-tz-independent integer, so
    # the drained counts are identical under any driver session tz),
    # then every window is judged against the FROZEN whole-corpus
    # reference histogram via operators/drift.psi_vs_reference —
    # reference bins missing from a window still vote (a vanished mode
    # is drift). The oracle replays the windowed PSI from the raw
    # events, so the streaming counts must equal the batch counts
    # exactly for the row to hash-match.
    import os

    from ..operators.drift import psi_vs_reference
    from ..streaming.windows import run_stream_to_memory
    from .registry import scratch_warehouse

    bucket = F.floor(F.col("value") / 10.0).cast("long")
    ref_counts = ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # ONE narrow projection write feeds BOTH streaming arms: arms (h)
    # and (j) read the identical (event_id, ts, event_type, value)
    # slice. The two drains run together further down.
    sub = ev.select("event_id", "ts", "event_type", "value")
    root = scratch_warehouse(spark, "psi_stream_rows").root
    src = os.path.join(root, "_src")
    sub.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(sub.schema).parquet(src)
    day_idx = F.floor(
        event_micros(stream, "ts") / F.lit(86400000000.0)
    ).cast("long")
    cur = stream.groupBy(
        F.col("event_type"), day_idx.alias("day_idx"), bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    # Arm (j)'s stream (docstring below, at its arm) is built HERE so
    # the two availableNow drains, the suite's only eager build jobs,
    # run as independent chains (memo.run_chains). ``out_stats`` is
    # shared with arm (i) below.
    from ..memo import run_chains
    from ..operators.drift import mad_outlier_count, mad_outliers

    out_stats = mad_outliers(ev)
    fence = out_stats.select(
        F.col("event_type").alias("_fet"), "median", "mad"
    )
    stream_o = spark.readStream.schema(sub.schema).parquet(src)
    day_idx_o = F.floor(
        event_micros(stream_o, "ts") / F.lit(86400000000.0)
    ).cast("long")
    joined_o = stream_o.join(
        F.broadcast(fence),
        stream_o["event_type"].eqNullSafe(F.col("_fet")),
        "left",
    )
    cur_o = joined_o.groupBy(
        stream_o["event_type"].alias("event_type"),
        day_idx_o.alias("day_idx"),
    ).agg(
        F.count(F.col("value")).cast("double").alias("n"),
        mad_outlier_count().cast("double").alias("n_outliers"),
    )
    run_chains(
        psi=lambda: run_stream_to_memory(cur, "stats_psi_stream", "complete"),
        outliers=lambda: run_stream_to_memory(
            cur_o, "stats_outlier_stream", "complete"
        ),
    )
    type_day_key = F.concat(
        F.col("event_type"), F.lit("@d"), F.col("day_idx").cast("string")
    )
    psi_stream_arm = _metric_rows(
        psi_vs_reference(spark.table("stats_psi_stream"), ref_counts),
        "psi_stream",
        type_day_key,
        _PSI_METRICS,
    )
    # (i) robust outliers (operators/drift.mad_outliers):
    # per-type median/MAD fence — the row-level complement to the PSI
    # arms' distribution-level drift. The median and MAD are rounded
    # to 6dp BEFORE the threshold compare on BOTH engines, so the
    # outlier count is bitwise-reproducible (subtraction/abs/multiply
    # of identical doubles are IEEE-exact); the window_functions
    # suite's mean/stddev zscore is the fragile cousin this fence
    # replaces when the tail itself is what's being hunted.
    # (out_stats computed with the streaming arms above)
    out_arm = _metric_rows(
        out_stats,
        "outliers",
        F.col("event_type").cast("string"),
        ("median", "mad", "n", "n_outliers"),
    )
    # (j) streaming outlier fence: the SAME frozen batch
    # median/MAD statistics broadcast into a stream-static join, with
    # per-(type, day) outlier counts aggregated by a REAL availableNow
    # drain — the online form of (i): a production gate scores
    # incoming windows against a FROZEN fence, never against
    # statistics the batch could skew in its own favor (the
    # psi_stream / frozen-LM posture). Counts are exact integers over
    # the 6dp-rounded fence, so the arm is FP-safe by the same
    # argument as (i).
    # (stream built and drained with arm (h) above — one shared source
    # write, two concurrent availableNow drains)
    out_stream_arm = _metric_rows(
        spark.table("stats_outlier_stream"),
        "outliers_stream",
        type_day_key,
        ("n", "n_outliers"),
    )
    # (k) k-anonymity + l-diversity audits
    # (operators/validation.k_anonymity / l_diversity): the
    # release-governance pair — quasi-identifier class sizes and
    # per-class sensitive-value diversity over the corpus metadata,
    # each reported as leak-free scalars (never the rare classes
    # themselves). One partial-agg groupBy each.
    from ..operators.validation import k_anonymity, l_diversity

    gov_docs = load_table(spark, sf_dir, "documents")
    ldiv_arm = _metric_rows(
        l_diversity(gov_docs, ("source",)).withColumnRenamed(
            "n_classes", "l_n_classes"
        ),
        "kanon",
        F.lit("documents:source->lang"),
        ("l_n_classes", "min_distinct_sensitive", "n_below_l"),
    )
    kanon_arm = _metric_rows(
        k_anonymity(gov_docs, ("source", "lang")),
        "kanon",
        F.lit("documents:source+lang"),
        ("n_classes", "min_class_size", "n_below_k", "n_rows_at_risk"),
    )
    return (
        seg_arm.unionByName(mkt_arm)
        .unionByName(hist_arm)
        .unionByName(sketch_arm)
        .unionByName(ret_arm)
        .unionByName(cohort_arm)
        .unionByName(psi_arm)
        .unionByName(psi_stream_arm)
        .unionByName(out_arm)
        .unionByName(out_stream_arm)
        .unionByName(kanon_arm)
        .unionByName(ldiv_arm)
    )


@register(
    "window_functions_suite",
    oracle=f"""
SELECT user_id, event_id, ts, value,
       CAST(DENSE_RANK() OVER wr AS BIGINT) AS drank,
       CAST(NTILE(4) OVER wr AS INT) AS quartile,
       CAST(FLOOR(CUME_DIST() OVER wr * 10000) AS BIGINT) AS cume_bps,
       {sql_round('SUM(value) OVER wt', 2)} AS sum_2d,
       COUNT(*) OVER wt AS n_2d,
       {sql_round('FIRST_VALUE(value) OVER wd', 4)} AS day_open,
       {sql_round('LAST_VALUE(value) OVER wd', 4)} AS running_last,
       {sql_round('NTH_VALUE(value, 2) OVER wd', 4)} AS second_tick,
       CASE WHEN STDDEV_SAMP(value) OVER wu IS NULL
                 OR STDDEV_SAMP(value) OVER wu = 0 THEN NULL
            ELSE {sql_round('(value - AVG(value) OVER wu)'
                            ' / (STDDEV_SAMP(value) OVER wu)', 4)}
       END AS zscore,
       CASE WHEN STDDEV_SAMP(value) OVER wu IS NULL
                 OR STDDEV_SAMP(value) OVER wu = 0 THEN NULL
            ELSE CAST(ABS((value - AVG(value) OVER wu)
                          / (STDDEV_SAMP(value) OVER wu)) > 2 AS INT)
       END AS is_outlier
FROM events
WINDOW wr AS (PARTITION BY user_id ORDER BY value DESC, event_id),
       wt AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL '2 days' PRECEDING AND CURRENT ROW),
       wd AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       wu AS (PARTITION BY user_id)
""",
)
def window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function menu beyond the reference's lag/avg/stddev,
    one row per event with three frame specs: (a) rank family —
    dense_rank, ntile, cume_dist over one partition/order spec (one
    exchange+sort for all three; tie-free via event_id; cume_dist scaled
    to integer basis points to avoid double-hash divergence, FLOOR
    explicit because Spark's double->bigint cast truncates while
    DuckDB's rounds); (b) time-based RANGE frame — trailing 2 days of
    the row's own key, expressed as rangeBetween over epoch MICROS
    (integer-exact; epoch seconds would truncate sub-second components
    and shift frame boundaries); (c) intraday anchors —
    first/last/nth_value in a growing (key, day) ROWS frame, so
    last_value means 'running last' identically in both engines;
    (d) per-key z-score anomaly flagging — each event scored against its
    user's whole-history mean/stddev (an unordered whole-partition
    frame: same exchange as wr, no sort), NULL-guarded for one-event
    and constant-valued users where the deviation is undefined, with
    the |z|>2 outlier flag computed on the RAW z so the flag and the
    rounded display value cannot disagree."""
    ev = load_table(spark, sf_dir, "events")
    wr = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    wu = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    _std_u = F.stddev_samp("value").over(wu)
    _z_raw = (F.col("value") - F.avg("value").over(wu)) / _std_u
    wt = (
        Window.partitionBy("user_id")
        .orderBy(event_micros(ev, "ts"))
        .rangeBetween(-2 * 86400 * 1_000_000, 0)
    )
    wd = (
        Window.partitionBy("user_id", F.to_date("ts"))
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.dense_rank().over(wr).cast("bigint").alias("drank"),
        F.ntile(4).over(wr).cast("int").alias("quartile"),
        F.floor(F.cume_dist().over(wr) * 10000).cast("bigint").alias("cume_bps"),
        round_half_up(F.sum("value").over(wt), 2).alias("sum_2d"),
        F.count(F.lit(1)).over(wt).alias("n_2d"),
        round_half_up(F.first("value").over(wd), 4).alias("day_open"),
        round_half_up(F.last("value").over(wd), 4).alias("running_last"),
        round_half_up(F.nth_value("value", 2).over(wd), 4).alias("second_tick"),
        F.when(_std_u.isNull() | (_std_u == 0), F.lit(None))
        .otherwise(round_half_up(_z_raw, 4))
        .alias("zscore"),
        F.when(_std_u.isNull() | (_std_u == 0), F.lit(None).cast("int"))
        .otherwise((F.abs(_z_raw) > 2).cast("int"))
        .alias("is_outlier"),
    )


@register(
    "resample_ohlc_daily",
    oracle=f"""
WITH bars AS (
    SELECT user_id,
           CAST(ts AS DATE) AS day,
           {sql_round('arg_min(value, ts)', 4)} AS open_v,
           {sql_round('MAX(value)', 4)} AS high_v,
           {sql_round('MIN(value)', 4)} AS low_v,
           {sql_round('arg_max(value, ts)', 4)} AS close_v,
           COUNT(*) AS n_ticks
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
), cal AS (
    SELECT user_id,
           CAST(UNNEST(generate_series(MIN(day), MAX(day),
                                       INTERVAL 1 DAY)) AS DATE) AS day
    FROM bars
    GROUP BY user_id
), filled AS (
    SELECT c.user_id, c.day, b.n_ticks,
           last_value(b.close_v IGNORE NULLS) OVER (
               PARTITION BY c.user_id ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS carried
    FROM cal c
    LEFT JOIN bars b ON c.user_id = b.user_id AND c.day = b.day
)
SELECT 'bars' AS variant, user_id, day,
       open_v, high_v, low_v, close_v, n_ticks
FROM bars
UNION ALL
SELECT 'gapfilled' AS variant, user_id, day,
       carried AS open_v, carried AS high_v,
       carried AS low_v, carried AS close_v,
       CAST(0 AS BIGINT) AS n_ticks
FROM filled
WHERE n_ticks IS NULL
""",
)
def resample_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-to-bar resampling — the inverse of the reference's pipeline
    (which CONSUMES daily bars): raw events collapse to per-key daily
    OHLC candles in ONE aggregate pass via min_by/max_by (no window, no
    sort — partial-aggregable, so 100 TB of ticks reduce map-side).
    Spark side keys min_by on (ts, event_id) for tie-robustness; the
    oracle's plain arg_min(ts) agrees because (user_id, ts) is unique
    in this data.

    The `gapfilled` arm completes each key's calendar
    (operators/gapfill.calendar_fill): days inside a user's span with
    no ticks get a synthetic flat candle at the carried close
    (open=high=low=close=previous close, n_ticks=0) — the standard
    bar-series convention downstream backtests assume. Each key expands
    its OWN span (sequence+explode — no global calendar cross join);
    the forward fill is one per-key window over calendar days, so the
    sorted partition is bounded by span length, not tick volume."""
    ev = load_table(spark, sf_dir, "events")
    tie = F.struct(F.col("ts"), F.col("event_id"))
    bars = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        round_half_up(F.min_by("value", tie), 4).alias("open_v"),
        round_half_up(F.max("value"), 4).alias("high_v"),
        round_half_up(F.min("value"), 4).alias("low_v"),
        round_half_up(F.max_by("value", tie), 4).alias("close_v"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    gaps = calendar_fill(bars, "user_id", carry=("close_v",))
    gap_arm = gaps.select(
        F.lit("gapfilled").alias("variant"),
        "user_id",
        "day",
        F.col("close_v").alias("open_v"),
        F.col("close_v").alias("high_v"),
        F.col("close_v").alias("low_v"),
        F.col("close_v").alias("close_v"),
        F.lit(0).cast("bigint").alias("n_ticks"),
    )
    bar_arm = bars.select(F.lit("bars").alias("variant"), *bars.columns)
    return bar_arm.unionByName(gap_arm)


@register(
    "full_outer_year_reconcile",
    oracle="""
WITH y99 AS (
    SELECT o_custkey, COUNT(*) AS n99 FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY o_custkey
), y00 AS (
    SELECT o_custkey, COUNT(*) AS n00 FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
    GROUP BY o_custkey
)
SELECT COALESCE(y99.o_custkey, y00.o_custkey) AS custkey,
       COALESCE(y99.n99, 0) AS n99,
       COALESCE(y00.n00, 0) AS n00,
       COALESCE(y00.n00, 0) - COALESCE(y99.n99, 0) AS delta
FROM y99 FULL OUTER JOIN y00 ON y99.o_custkey = y00.o_custkey
""",
)
def full_outer_year_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation: per-customer order counts across two
    years, keeping customers present in either (the audit/diff shape).
    Both sides pre-aggregate BEFORE the outer join, so the join input is
    one row per customer-year, not raw orders — at 100 TB the outer join
    shuffles keys, not facts."""
    o = load_table(spark, sf_dir, "orders")

    def year_counts(y: int, key: str, alias: str) -> DataFrame:
        # distinct key names per side: both frames descend from the same
        # scan, so qualified access would be ambiguous after the join
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01 00:00:00").cast("timestamp"))
            )
            .groupBy(F.col("o_custkey").alias(key))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    y99 = year_counts(1999, "ck99", "n99")
    y00 = year_counts(2000, "ck00", "n00")
    return (
        y99.join(y00, F.col("ck99") == F.col("ck00"), "full_outer")
        .select(
            F.coalesce(F.col("ck99"), F.col("ck00")).alias("custkey"),
            F.coalesce(F.col("n99"), F.lit(0)).alias("n99"),
            F.coalesce(F.col("n00"), F.lit(0)).alias("n00"),
            (F.coalesce(F.col("n00"), F.lit(0)) - F.coalesce(F.col("n99"), F.lit(0))).alias(
                "delta"
            ),
        )
    )


# window_range_2day and window_day_anchors are arms of
# window_functions_suite.


@register(
    "pivot_status_by_segment",
    oracle=f"""
SELECT c.c_mktsegment,
       COUNT(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS n_open,
       COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS n_filled,
       COUNT(CASE WHEN o.o_orderstatus = 'P' THEN 1 END) AS n_pending,
       {sql_round("SUM(CASE WHEN o.o_orderstatus = 'O' THEN o.o_totalprice ELSE 0 END)", 2)} AS open_value
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""",
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide reshape: order status pivoted into columns per market
    segment. Uses an EXPLICIT pivot value list — without it Spark runs
    an extra distinct pass over 100 TB just to discover the columns, and
    the output schema becomes data-dependent (a deploy hazard). The
    conditional-aggregation form is the same single-shuffle plan the
    oracle spells out."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("val"),
        )
    )
    # coalesce to 0: a (segment, status) combination with no rows pivots
    # to NULL, but the conditional-aggregate semantics (and the oracle)
    # define it as zero
    return pivoted.select(
        "c_mktsegment",
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P_n"), F.lit(0)).alias("n_pending"),
        round_half_up(F.coalesce(F.col("O_val"), F.lit(0.0)), 2).alias("open_value"),
    )


@register(
    "unpivot_lineitem_measures",
    oracle=f"""
SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
       {sql_round('l_quantity', 4)} AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'price' AS metric,
       {sql_round('l_extendedprice', 4)} AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount' AS metric,
       {sql_round('l_discount', 4)} AS val
FROM lineitem
""",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (the inverse of pivot_status_by_segment):
    three measure columns melt into (metric, val) rows via the native
    unpivot/melt operator — one Expand pass over the scan, never three
    scans (which is what the portable UNION ALL oracle spells out)."""
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.melt(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="raw",
    )
    return melted.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("metric") == "l_quantity", "quantity")
        .when(F.col("metric") == "l_extendedprice", "price")
        .otherwise("discount")
        .alias("metric"),
        round_half_up(F.col("raw"), 4).alias("val"),
    )


# There is no separate grouping_sets_explicit row: the grouping-
# set lattice is driver-checked via cube_order_counts (full CUBE) and
# q1_pricing_rollup (ROLLUP); the SQL-text Catalyst path stays checked
# via s6_sql_cte_chain. value_histogram lives on as stats_suite's
# 'histogram' arm; union_all_tagged_events' tagged-UNION shape is now
# load-bearing inside every *_suite query.
