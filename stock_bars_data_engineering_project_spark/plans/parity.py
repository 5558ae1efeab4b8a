"""Reference-parity queries (SURVEY §2) over the driver testdata.

Each query re-expresses one (or a tight cluster) of the reference's
operators on the TPC-H-ish tables, paired with a DuckDB oracle. The
analytical shapes mirror
/root/reference/etl_project/assets/sql/transform/stock_bars_analysis.sql
transplanted onto ``events(user_id, ts, value)``; relational operators
(join/project/filter/agg) mirror the sites cited per-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up, sql_round
from ..operators.analysis import bars_analysis
from ..operators.skew import salted_topk
from ..operators.validation import (
    accepted_values,
    max_watermark,
    not_null,
    ref_integrity,
    row_count,
    unique_key,
    validation_panel,
    value_range,
)
from ..sources.readers import load_events_since, load_table
from .registry import register

# ---------------------------------------------------------------------------
# Flagship: the reference's full analysis pipeline (W1+W2+W3, X2-X5, Q2-Q5)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = f"""
WITH prev AS (
    SELECT user_id, ts, value,
           LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev_value
    FROM events
), rets AS (
    SELECT user_id, ts, value, prev_value,
           {sql_round('(value - prev_value) / NULLIF(prev_value, 0)', 3)} AS ret
    FROM prev
)
SELECT user_id,
       CAST(ts AS DATE) AS event_date,
       value,
       prev_value,
       {sql_round('ret * 100', 1)} AS return_pct,
       {sql_round('AVG(value) OVER w', 2)} AS moving_avg,
       {sql_round('STDDEV(ret) OVER w', 2)} AS moving_stddev
FROM rets
WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


@register("flagship_analysis", oracle=_FLAGSHIP_ORACLE)
def flagship_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key lag -> guarded rounded return -> 5-row moving avg/stddev;
    the whole reference analytical query as one composable operator
    (reference SQL stock_bars_analysis.sql:1-35, quirks Q2-Q5)."""
    events = load_table(spark, sf_dir, "events")
    out = bars_analysis(events, key="user_id", ts="ts", value="value")
    return out.withColumnRenamed("date", "event_date")


# W1/W2/W3 (lag, 5-row moving avg, 5-row moving stddev) are verified
# through flagship_analysis, which computes all three in one plan (the
# operators live in operators/analysis.py).

# ---------------------------------------------------------------------------
# J1: inner equi-join to a small dimension, different key names, drops
# non-matching fact rows (assets.py:93-102, Q7)
# ---------------------------------------------------------------------------


@register(
    "j1_dim_join",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice,
       p.p_name, p.p_brand
FROM lineitem l
INNER JOIN (SELECT * FROM part WHERE p_size < 25) p
  ON l.l_partkey = p.p_partkey
""",
)
def j1_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact ⋈ small dim, inner (non-matching fact rows silently dropped
    — Q7), different key names, dim broadcast. Catalyst plans a
    BroadcastHashJoin: zero shuffle of the 100-TB fact side."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 25)
    joined = lineitem.join(
        F.broadcast(dim), lineitem.l_partkey == dim.p_partkey, "inner"
    )
    return joined.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "p_name", "p_brand"
    )


# ---------------------------------------------------------------------------
# P1-P3: rename / drop / fixed-order projection (assets.py:79-107)
# ---------------------------------------------------------------------------


@register(
    "p1_rename_project",
    oracle="""
SELECT o_orderkey AS order_id,
       o_custkey AS customer_id,
       o_orderstatus AS status,
       o_totalprice AS total_price,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mon,
       CAST(EXTRACT(isodow FROM o_orderdate) AS INT) AS iso_dow,
       CAST(CAST(o_orderdate AS DATE) = last_day(CAST(o_orderdate AS DATE)) AS BOOLEAN)
           AS is_month_end,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
           AS days_since_epoch0
FROM orders
""",
)
def p1_rename_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3: bulk rename and fixed-order projection (the reference's
    rename map assets.py:79-91 and reorder assets.py:105-107); X2 honest
    date cast (Q1). Also carries the calendar feature menu (ISO
    day-of-week — Spark's dayofweek is Sun=1, remapped to Mon=1 —
    month-end flag, day delta from a fixed epoch): pure map-side
    codegen, the date-part family feature pipelines need."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    iso_dow = ((F.dayofweek(d) + 5) % 7 + 1).cast("int")
    return orders.withColumnsRenamed(
        {
            "o_orderkey": "order_id",
            "o_custkey": "customer_id",
            "o_orderstatus": "status",
            "o_totalprice": "total_price",
        }
    ).select(
        "order_id",
        "customer_id",
        "status",
        "total_price",
        d.alias("order_date"),
        F.year(d).cast("int").alias("yr"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mon"),
        iso_dow.alias("iso_dow"),
        (d == F.last_day(d)).alias("is_month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_epoch0"),
    )


# ---------------------------------------------------------------------------
# F1 / F2 / X6: equality + watermark-range predicates (utilities.py:11-15,
# stock_bars.py:51-57, both pushed down to the parquet scan) and the
# checkpoint date slice + JSON round-trip scalars (stock_bars.py:43)
# ---------------------------------------------------------------------------


@register(
    "fx_filter_scalar_suite",
    oracle="""
SELECT event_id, user_id, ts, event_type, value,
       substr(CAST(ts AS VARCHAR), 1, 10) AS checkpoint_date,
       CAST(json_extract(j, '$.uid') AS BIGINT) AS uid,
       json_extract_string(j, '$.meta.et') AS etype
FROM (
    SELECT event_id, user_id, ts, event_type, value,
           to_json(struct_pack(uid := user_id,
                               meta := struct_pack(et := event_type))) AS j
    FROM events
    WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-15 00:00:00'
)
""",
)
def fx_filter_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+X6 on one events scan (one row keeps registry slots free;
    each semantic is still individually driver-verified through this
    row):

    - F1: equality predicate (checkpoint lookup shape,
      utilities.py:11-15);
    - F2: the incremental high-watermark predicate (checkpoint date
      pushed into the source, stock_bars.py:51-57) — Q9's
      overlap-inclusive `>=`, pushed down to the parquet scan (see
      readers.load_events_since); on date-partitioned storage this is
      partition pruning. Both predicates land in PushedFilters
      (pinned in test_plan_shapes).
    - X6: `last_checkpoint[:10]` — ISO-timestamp string sliced to its
      date prefix (stock_bars.py:43) — plus the JSON round-trip columns
      (SURVEY §2.9): a nested struct serialized to JSON, typed scalars
      extracted back by path; each engine round-trips through its OWN
      serializer, so the compare checks path-extraction semantics, not
      byte formatting. Map-only, codegen'd."""
    events = load_events_since(spark, sf_dir, "2024-01-15 00:00:00")
    ev = events.filter(F.col("event_type") == "purchase")
    j = F.to_json(
        F.struct(
            F.col("user_id").alias("uid"),
            F.struct(F.col("event_type").alias("et")).alias("meta"),
        )
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.substring(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), 1, 10).alias(
            "checkpoint_date"
        ),
        F.get_json_object(j, "$.uid").cast("bigint").alias("uid"),
        F.get_json_object(j, "$.meta.et").alias("etype"),
    )


# ---------------------------------------------------------------------------
# A1 / A2: watermark max + count (stock_bars.py:115, :93)
# ---------------------------------------------------------------------------


@register(
    "a_scan_aggregates",
    oracle="""
SELECT 'max_watermark' AS "check", 'events' AS tbl,
       epoch_us(MAX(ts)) AS observed,
       CAST(CASE WHEN MAX(ts) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS failed,
       CAST(CASE WHEN MAX(ts) IS NULL THEN 0 ELSE 1 END AS INT) AS ok
FROM events
UNION ALL
SELECT 'row_count', 'lineitem', COUNT(*),
       CAST(CASE WHEN COUNT(*) = 0 THEN 1 ELSE 0 END AS BIGINT),
       CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE 1 END AS INT)
FROM lineitem
UNION ALL
SELECT 'not_null:text', 'documents', COUNT(*),
       COUNT(*) - COUNT(text),
       CAST(CASE WHEN COUNT(*) - COUNT(text) = 0 THEN 1 ELSE 0 END AS INT)
FROM documents
UNION ALL
SELECT 'unique_key:o_orderkey', 'orders', COUNT(DISTINCT o_orderkey),
       COUNT(*) - COUNT(DISTINCT o_orderkey),
       CAST(CASE WHEN COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
            THEN 1 ELSE 0 END AS INT)
FROM orders
UNION ALL
SELECT 'accepted_values:o_orderstatus', 'orders', COUNT(*),
       COUNT(*) - COUNT(*) FILTER (WHERE o_orderstatus IN ('O', 'F', 'P')),
       CAST(CASE WHEN COUNT(*) - COUNT(*) FILTER (
                WHERE o_orderstatus IN ('O', 'F', 'P')) = 0
            THEN 1 ELSE 0 END AS INT)
FROM orders
UNION ALL
SELECT 'range:l_quantity', 'lineitem', COUNT(*),
       COUNT(*) - COUNT(*) FILTER (WHERE l_quantity >= 1 AND l_quantity <= 50),
       CAST(CASE WHEN COUNT(*) - COUNT(*) FILTER (
                WHERE l_quantity >= 1 AND l_quantity <= 50) = 0
            THEN 1 ELSE 0 END AS INT)
FROM lineitem
UNION ALL
SELECT 'ref_integrity:l_orderkey', 'lineitem', n, n,
       CAST(CASE WHEN n = 0 THEN 1 ELSE 0 END AS INT)
FROM (
    -- a NULL child key references nothing and is ALWAYS an orphan
    -- (Spark's null-unsafe anti-join keeps it even when the parent
    -- also has NULL keys; plain EXCEPT would treat NULL = NULL and
    -- hide it, so the NULL case is counted explicitly)
    SELECT (SELECT COUNT(*) FROM (
                SELECT DISTINCT l_orderkey FROM lineitem
                WHERE l_orderkey IS NOT NULL
                EXCEPT
                SELECT DISTINCT o_orderkey FROM orders
            ))
           + (SELECT CASE WHEN EXISTS (
                  SELECT 1 FROM lineitem WHERE l_orderkey IS NULL)
              THEN 1 ELSE 0 END) AS n
)
""",
)
def a_scan_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2, grown into the data-quality validation panel a production
    load runs before trusting its inputs (operators/validation.py — the
    dbt-tests / expectations layer). The reference's two scalars lead:
    global max(ts), the checkpoint watermark (stock_bars.py:115), as the
    'max_watermark' freshness row (epoch-micros — integer on both
    engines), and the run-log row count (stock_bars.py:93) as
    'row_count'. Then five expectations over the warehouse tables:
    NOT NULL, key uniqueness, accepted values, numeric range — each ONE
    conditional-count aggregate, partial-aggregable map-side — and
    foreign-key integrity (distinct child keys anti-joined to parent
    keys: both sides shrink to key cardinality before the shuffle)."""
    events = load_table(spark, sf_dir, "events")
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    docs = load_table(spark, sf_dir, "documents")
    return validation_panel(
        [
            max_watermark(events, "events"),
            row_count(lineitem, "lineitem"),
            not_null(docs, "documents", "text"),
            unique_key(orders, "orders", "o_orderkey"),
            accepted_values(orders, "orders", "o_orderstatus", ("O", "F", "P")),
            value_range(lineitem, "lineitem", "l_quantity", 1, 50),
            ref_integrity(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem"),
        ]
    )


# ---------------------------------------------------------------------------
# S2: flatten/explode (assets.py:54-68) — word explode over documents
# ---------------------------------------------------------------------------


@register(
    "s2_explode_tokens",
    oracle="""
SELECT 'tokens' AS variant, doc_id,
       unnest(string_split(text, ' ')) AS token
FROM documents
UNION ALL
SELECT 'json_props' AS variant, event_id AS doc_id,
       CAST(CAST(json_extract(props, '$.k') AS INTEGER) * 2 + 1
            AS VARCHAR) AS token
FROM events
""",
)
def s2_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the flatten operator — nested collection -> one row per element,
    parent key carried along (the reference's dict-of-lists flatten,
    assets.py:54-68, as a distributed explode).

    The `json_props` arm covers the OTHER semi-structured
    shape: schema-on-read extraction from a JSON string column
    (events.props) via ``from_json`` with a TYPED schema — the
    arithmetic on the parsed INT (k*2+1) proves the value really
    parsed as a number, not a substring (string math would diverge or
    null out). Map-only, whole-stage codegen; at 100 TB this is the
    standard first hop for event payloads that land as JSON blobs."""
    docs = load_table(spark, sf_dir, "documents")
    tokens_arm = docs.select(
        F.lit("tokens").alias("variant"),
        "doc_id",
        F.explode(F.split("text", " ")).alias("token"),
    )
    ev = load_table(spark, sf_dir, "events")
    json_arm = ev.select(
        F.lit("json_props").alias("variant"),
        F.col("event_id").alias("doc_id"),
        (F.from_json(F.col("props"), "k INT")["k"] * 2 + 1)
        .cast("string")
        .alias("token"),
    )
    return tokens_arm.unionByName(json_arm)


# ---------------------------------------------------------------------------
# S6 + §2.7: ad-hoc SQL with chained CTEs, verbatim WITH clause
# ---------------------------------------------------------------------------


# ONE query text for both engines: the same ANSI `WITH` chain runs
# verbatim under Catalyst (spark.sql) and DuckDB (oracle). Two hand-kept
# copies differing only in the expanded rounding idiom had to stay
# bit-identical by discipline; a shared string cannot drift.
_S6_SQL = """
WITH order_value AS (
    SELECT o_custkey, o_totalprice,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
), running AS (
    SELECT o_custkey, order_date, o_totalprice,
           SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY order_date, o_totalprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend
    FROM order_value
)
SELECT o_custkey, order_date, o_totalprice,
       {round_expr} AS running_spend
FROM running
""".format(round_expr=sql_round("running_spend", 2))


@register(
    "s6_sql_cte_chain",
    oracle=_S6_SQL,
)
def s6_sql_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: arbitrary SQL text executed by the engine (extract_from_query,
    assets.py:146-147) with §2.7's chained-CTE composition — same WITH
    clause Catalyst inlines and optimizes as one plan, and the SAME text
    is the DuckDB oracle."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_S6_SQL)


# ---------------------------------------------------------------------------
# Canonical OLAP shapes beyond the reference surface (bench headliners)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_round('SUM(l_quantity)', 2)} AS sum_qty,
       {sql_round('SUM(l_extendedprice)', 2)} AS sum_base_price,
       {sql_round('SUM(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
       {sql_round('SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)} AS sum_charge,
       {sql_round('AVG(l_quantity)', 4)} AS avg_qty,
       {sql_round('AVG(l_extendedprice)', 4)} AS avg_price,
       {sql_round('AVG(l_discount)', 4)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q1_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape under ROLLUP: the scan-heavy multi-aggregate pass
    (partial aggregation map-side — the canonical 100-TB scan benchmark)
    with hierarchical subtotals in the same single shuffle (grouping-set
    expansion happens map-side; ANSI NULL group markers agree across
    engines). Base-grain rows are exactly the classic Q1 result; the
    rollup rows add the per-flag and grand totals."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
            round_half_up(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            round_half_up(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            round_half_up(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_half_up(F.avg("l_extendedprice"), 4).alias("avg_price"),
            round_half_up(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "topk_per_group_salted",
    oracle="""
SELECT user_id, event_id, value, rank
FROM (
    SELECT user_id, event_id, value,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rank
    FROM events
)
WHERE rank <= 3
""",
)
def topk_per_group_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same top-k computed skew-proof: two-phase salted ranking
    (operators/skew.py) — per-task fan-in bounded at k x n_salt rows per
    key however hot the key. The oracle is the plain unsalted ranking,
    proving the salted plan is exact, not approximate."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    out = salted_topk(
        events, keys=("user_id",), order_col="value", tiebreak_col="event_id",
        k=3, n_salt=8,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))
