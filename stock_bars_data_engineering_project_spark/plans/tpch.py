"""Multi-join analytical queries (TPC-H-shaped) over the driver testdata.

The reference's only join is a single broadcast dim equi-join
(assets.py:93-102, SURVEY §2.3 J1). A real warehouse workload chains
many joins; these queries widen the engine's join surface to the classic
shapes — multi-way star joins, aggregate-subquery semi-joins, anti-joins,
min-per-group join-backs, and set intersection — expressed declaratively
so Catalyst picks the physical strategy (broadcast for the tiny dims,
shuffle hash/sort-merge for fact-fact, AQE for runtime re-planning).

Scale notes baked into each query:
- `region`/`nation` are O(10^2) rows at any SF -> always `F.broadcast`.
- `customer`/`supplier`/`part` GROW with SF (10^7+ rows at 100 TB) -> NOT
  force-broadcast; Catalyst/AQE picks broadcast at small SF and
  shuffle-join at scale from runtime stats.
- Aggregations pre-reduce the fact side BEFORE joining wherever
  semantics allow (q18: having-filter on lineitem first; cheapest-
  supplier: groupBy before the part/supplier joins) — at 100 TB the
  pre-aggregation cuts the shuffled bytes by orders of magnitude.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up, sql_round
from ..memo import build_once
from ..sources.readers import load_table
from .registry import register

def _revenue():
    # Built lazily: F.col needs an active SparkContext in classic mode,
    # and this module imports before any session exists.
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# q3_shipping_priority was consolidated out of the registry (round-2):
# its join-filter-group-TopN shape is fully covered by q10_returned_items
# (same TakeOrderedAndProject plan, one more join) and q5/q18.


@register(
    "q5_region_volume",
    oracle=f"""
SELECT n.n_name,
       {sql_round("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
GROUP BY n.n_name
""",
    tags=("join", "agg", "bench"),
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (two facts, four dims) with a
    local-supplier condition (customer and supplier share a nation).
    region⋈nation collapses to a broadcast before touching any fact;
    supplier/customer joins are left to Catalyst (broadcast at small SF,
    shuffle at 100 TB via AQE). The nation⋈region pre-join prunes
    suppliers to one region BEFORE the lineitem join."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(round_half_up(F.sum(_revenue()), 2).alias("revenue"))
    )


@register(
    "q18_large_orders",
    oracle=f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS order_date,
       {sql_round("o.o_totalprice", 2)} AS total_price,
       {sql_round("big.sum_qty", 2)} AS sum_qty
FROM (
    SELECT l_orderkey, SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 300
) big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
    tags=("join", "agg", "having"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-HAVING subquery joined back to its
    parents. The lineitem groupBy+filter runs FIRST (partial agg
    map-side, then the >300 filter keeps a few dozen keys), so the
    orders/customer joins see a tiny left side — at 100 TB this ordering
    is the difference between joining 10^11 rows and 10^4."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            round_half_up(F.col("o_totalprice"), 2).alias("total_price"),
            round_half_up(F.col("sum_qty"), 2).alias("sum_qty"),
        )
    )


def _set_ops_bloom_words(sf_dir: str, recent: DataFrame, urgent: DataFrame):
    """Bloom bitmaps for the two bloom arms, built once per orders
    parquet state: O(m_bits) driver ints."""
    import os

    from ..operators.bloom import bloom_bitmap

    return build_once(
        ("set_ops_bloom",),
        (os.path.join(sf_dir, "orders.parquet"),),
        lambda: (
            bloom_bitmap(recent, "o_custkey"),
            bloom_bitmap(urgent, "o_custkey"),
        ),
    )


@register(
    "set_ops_suite",
    oracle="""
SELECT 'anti_no_urgent' AS tag, c.c_custkey AS id
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
UNION ALL
SELECT 'semi_recent_urgent' AS tag, c.c_custkey AS id
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
)
UNION ALL
SELECT 'bloom_anti_no_urgent' AS tag, c.c_custkey AS id
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
UNION ALL
SELECT 'bloom_semi_urgent' AS tag, c.c_custkey AS id
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
)
UNION ALL
SELECT 'intersect_purchase_view' AS tag, id FROM (
    SELECT user_id AS id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id AS id FROM events WHERE event_type = 'view'
)
UNION ALL
SELECT 'except_new_docs' AS tag, id FROM (
    SELECT doc_id AS id FROM (
        SELECT doc_id, text FROM documents
        EXCEPT
        SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0
    )
)
""",
    tags=("join", "anti", "semi", "setop"),
)
def set_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The set-operation / existential-join family in one tagged result:
    (a) anti-join — customers with no urgent order, NOT EXISTS planned
    as a LEFT ANTI hash join with the orders side filtered before the
    join so only urgent keys shuffle; (b) semi-join — customers with a
    recent urgent order, EXISTS as LEFT SEMI (each match emitted once,
    no post-join distinct); (c) ANSI INTERSECT (distinct semantics) —
    users who both purchased and viewed; (d) EXCEPT — the snapshot diff
    behind incremental training-data refreshes (docs new relative to a
    prior snapshot), planned as a left-anti hash join; (e) the same
    semi join through operators/bloom.bloom_semi_join (round 8) — the
    probe side is pre-filtered by an md5 bloom bitmap built from the
    urgent-order keys before the exact LEFT SEMI runs. A bloom can only
    false-positive, so the arm's rows must EQUAL arm (b)'s against the
    same EXISTS oracle — the exactness contract of runtime row-level
    filtering, gated cross-engine (fp-rate and pre-filter mechanics are
    pinned in tests/test_bloom.py); (f) the ANTI-join shortcut
    (bloom_anti_join, round 8): certain bloom misses are kept WITHOUT
    touching the join, only passing candidates pay the exact anti join
    — must EQUAL arm (a)'s rows against the same NOT EXISTS oracle
    (NULL-keeping semantics and both bitmap transports pinned in
    tests/test_bloom.py)."""
    c = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    anti = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select(F.lit("anti_no_urgent").alias("tag"), F.col("c_custkey").alias("id"))
    )
    recent = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
    )
    semi = (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_semi")
        .select(
            F.lit("semi_recent_urgent").alias("tag"), F.col("c_custkey").alias("id")
        )
    )
    from ..operators.bloom import bloom_anti_join, bloom_semi_join

    # the bitmaps are build-once artifacts: a fresh process (the
    # driver's correctness pass) still pays and value-gates the two
    # build jobs, while repeat executions pay only the probe
    semi_words, anti_words = _set_ops_bloom_words(sf_dir, recent, urgent)
    bloom_semi = bloom_semi_join(
        c.select("c_custkey"), recent, key="c_custkey", build_key="o_custkey",
        words=semi_words,
    ).select(
        F.lit("bloom_semi_urgent").alias("tag"), F.col("c_custkey").alias("id")
    )
    bloom_anti = bloom_anti_join(
        c.select("c_custkey"), urgent, key="c_custkey", build_key="o_custkey",
        words=anti_words,
    ).select(
        F.lit("bloom_anti_no_urgent").alias("tag"),
        F.col("c_custkey").alias("id"),
    )
    inter = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .intersect(ev.filter(F.col("event_type") == "view").select("user_id"))
        .select(
            F.lit("intersect_purchase_view").alias("tag"),
            F.col("user_id").alias("id"),
        )
    )
    prior = docs.filter(F.col("doc_id") % 10 != 0)
    diff = docs.subtract(prior).select(
        F.lit("except_new_docs").alias("tag"), F.col("doc_id").alias("id")
    )
    return (
        anti.unionByName(semi)
        .unionByName(bloom_semi)
        .unionByName(bloom_anti)
        .unionByName(inter)
        .unionByName(diff)
    )


@register(
    "cheapest_supplier_per_part",
    oracle=f"""
WITH cost AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT p.p_partkey, p.p_name, s.s_name,
       {sql_round("c.unit_cost", 2)} AS unit_cost
FROM cost c
JOIN part p ON p.p_partkey = c.l_partkey AND p.p_size < 10
JOIN supplier s ON s.s_suppkey = c.l_suppkey
WHERE c.unit_cost = (
    SELECT MIN(c2.unit_cost) FROM cost c2 WHERE c2.l_partkey = c.l_partkey
)
""",
    tags=("join", "window", "subquery"),
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-per-group correlated subquery, decorrelated as
    a window-min + filter (one shuffle on l_partkey, no self-join). The
    per-(part,supplier) groupBy pre-reduces lineitem BEFORE the window
    and the part/supplier joins. Equality on unit_cost is safe across
    engines: both compute the identical IEEE division then select an
    exact element via MIN. Ties (two suppliers at min cost) emit both
    rows in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    s = load_table(spark, sf_dir, "supplier")
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(s, best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            round_half_up(F.col("unit_cost"), 2).alias("unit_cost"),
        )
    )


# intersect_purchase_view_users was consolidated into set_ops_suite
# (its 'intersect_purchase_view' arm).


@register(
    "q10_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {sql_round("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
       n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '2000-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers whose items
    came back — 4-way join with the returnflag filter pushed into the
    lineitem scan, grouped revenue, deterministic top-20. nation is
    broadcast; the l⋈o⋈c chain is left to Catalyst/AQE."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-07-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round_half_up(F.sum(_revenue()), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "promo_bracket_revenue",
    oracle=f"""
SELECT 'promo_pct' AS metric, (
    SELECT {sql_round('''100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
               / SUM(l.l_extendedprice * (1 - l.l_discount))''', 4)}
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '2000-03-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '2000-04-01 00:00:00'
) AS value
UNION ALL
SELECT 'bracket_revenue' AS metric, (
    SELECT {sql_round("SUM(l.l_extendedprice * (1 - l.l_discount))", 2)}
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
) AS value
""",
    tags=("join", "agg", "predicate"),
)
def promo_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 + Q19 shapes as one two-row (metric, value) result:
    (a) conditional-aggregate ratio — promo revenue share of one month,
    numerator and denominator from the same partial aggregation, no
    second scan; (b) disjunction-of-conjunction brackets spanning both
    join sides — Catalyst extracts the common join key and pushes the
    side-local residuals (brand/size to the part scan, quantity to the
    lineitem scan via OR-derivation); the cross-side OR evaluates
    post-join in codegen, no nested-loop fallback."""
    l14 = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    promo_row = (
        l14.join(p, l14.l_partkey == p.p_partkey)
        .agg(round_half_up(100.0 * F.sum(promo) / F.sum(rev), 4).alias("value"))
        .select(F.lit("promo_pct").alias("metric"), "value")
    )
    l = load_table(spark, sf_dir, "lineitem")
    j = l.join(p, l.l_partkey == p.p_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 50)
           & F.col("l_quantity").between(20, 40))
    )
    bracket_row = (
        j.filter(bracket)
        .agg(round_half_up(F.sum(_revenue()), 2).alias("value"))
        .select(F.lit("bracket_revenue").alias("metric"), "value")
    )
    return promo_row.unionByName(bracket_row)
