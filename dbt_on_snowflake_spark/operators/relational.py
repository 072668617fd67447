"""Relational operator parity queries (SURVEY.md §2.1–§2.6).

Each query re-expresses one inventory row from the reference
(maciejtarsa/dbt-on-snowflake) on the driver's TPC-H-ish testdata, with a
DuckDB oracle. Role mapping (FIXTURES.md §B): orders/lineitem play
order_header/order_detail; nation/region/customer/supplier/part play the
dims; events exercises timestamp predicates.

Scale posture: dims (region/nation/supplier/part/customer) are broadcast
— at 100 TB the fact tables shuffle only when an aggregation key demands
it, and AQE handles skew. No collect() anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.functions import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    revenue_scaled,
    sorted_set_str_sql,
    sum_scaled_sql,
)
from dbt_on_snowflake_spark.registry import query
from dbt_on_snowflake_spark.testdata import table


# --- S4/P1: source read + identity projection (staging-view passthrough) ---
# Reference: dbt/models/staging/raw_pos_menu.sql:1-2 (SELECT * FROM source).
@query(
    "s4_source_passthrough",
    oracle="SELECT * FROM region",
)
def s4_source_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "region")


# --- P2: column projection + rename (orders.sql:1-34 aliases) ---
@query(
    "p2_projection_rename",
    oracle="""
    SELECT c_custkey AS customer_id,
           c_name AS customer_name,
           c_mktsegment AS segment,
           c_acctbal AS account_balance
    FROM customer
    """,
)
def p2_projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("account_balance"),
    )


# --- P6: range predicate (dbt_utils.accepted_range, __sources.yml:217-220) ---
@query(
    "p6_range_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice BETWEEN 500.0 AND 2000.0
    """,
)
def p6_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Filter + projection both push down to the parquet scan.
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").between(500.0, 2000.0))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --- P7: expression predicate (order_ts <= current_timestamp,
# __sources.yml:204-205; frozen clock for determinism, SURVEY §7.4) ---
@query(
    "p7_ts_filter",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def p7_ts_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("ts") <= F.to_timestamp(F.lit("2024-01-15 00:00:00")))
        .select("event_id", "user_id", "event_type")
    )


# --- P5/P8/A6 + O7: the data-quality test surface as failing-row counts.
# Mirrors the dbt test runner convention (pass = 0 failing rows):
# is_positive_amount (tests/generic/test_is_positive_amount.sql:3-5),
# not_null, accepted_range, expression_is_true, unique.
_DQ_CHECKS = [
    (
        "lineitem_quantity_is_positive",
        "l_quantity IS NOT NULL AND l_quantity <= 0",
        "lineitem",
    ),
    ("orders_custkey_not_null", "o_custkey IS NULL", "orders"),
    ("customer_name_not_null", "c_name IS NULL", "customer"),
    (
        "orders_totalprice_accepted_range",
        "o_totalprice < 0 OR o_totalprice > 1000000",
        "orders",
    ),
    (
        "events_ts_not_future",
        "NOT (ts <= TIMESTAMP '2026-01-01 00:00:00')",
        "events",
    ),
]


@query(
    "dq_failing_rows",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{name}' AS check_name, COUNT(*) AS failures"
        f" FROM {tbl} WHERE {cond}"
        for name, cond, tbl in _DQ_CHECKS
    ),
)
def dq_failing_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for name, cond, tbl in _DQ_CHECKS:
        parts.append(
            table(spark, sf_dir, tbl)
            .filter(F.expr(cond))
            .agg(F.count(F.lit(1)).alias("failures"))
            .select(F.lit(name).alias("check_name"), "failures")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --- J1/J3: multi-way inner join wide denormalization (orders.sql:35-45,
# the `orders` mart: 5 inner joins) + J2 left join (orders.sql:46-47).
# Dims are broadcast: at 100 TB only lineitem<->orders co-shuffle.
@query(
    "j1_orders_denorm",
    oracle="""
    SELECT l.l_orderkey AS order_key,
           l.l_linenumber AS line_number,
           o.o_orderdate AS order_date,
           o.o_orderpriority AS order_priority,
           c.c_name AS customer_name,
           c.c_mktsegment AS segment,
           n.n_name AS nation_name,
           r.r_name AS region_name,
           p.p_name AS part_name,
           p.p_brand AS brand,
           s.s_name AS supplier_name,
           l.l_quantity AS quantity,
           l.l_extendedprice AS extended_price,
           l.l_discount AS discount
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
    headline=True,
)
def j1_orders_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    # Broadcast hints ONLY on fixed-cardinality dims (nation=25, region=5).
    # customer/part/supplier grow with scale factor: a hint would override
    # AQE's size check and OOM the executors at 100x. AQE's runtime
    # broadcast-conversion still broadcasts them when they actually fit
    # (it does at sf0.1 — pinned by tests/test_plans.py).
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .join(n, c.c_nationkey == n.n_nationkey, "inner")
        .join(r, n.n_regionkey == r.r_regionkey, "inner")
        .join(p, l.l_partkey == p.p_partkey, "inner")
        .join(s, l.l_suppkey == s.s_suppkey, "left")
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").alias("line_number"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.col("p_name").alias("part_name"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier_name"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extended_price"),
            F.col("l_discount").alias("discount"),
        )
    )


# --- J2 + F1: left outer join with null-extension + coalesce
# (orders.sql:46-47 anonymous orders; sales_metrics_by_location.py:57-59).
@query(
    "j2_left_join_enrich",
    oracle="""
    SELECT e.event_id AS event_id,
           e.event_type AS event_type,
           COALESCE(c.c_name, 'anonymous') AS user_name,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j2_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # No broadcast hint: customer grows with SF; AQE broadcasts at runtime
    # when it fits (see j1_orders_denorm).
    c = table(spark, sf_dir, "customer")
    return e.join(c, e.user_id == c.c_custkey, "left").select(
        F.col("event_id"),
        F.col("event_type"),
        F.coalesce(F.col("c_name"), F.lit("anonymous")).alias("user_name"),
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
    )


# --- J7: referential-integrity anti-join (relationships test,
# __sources.yml:138-140 etc.) — here inverted: customers with no orders.
@query(
    "j7_anti_orphans",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j7_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- Semi join (EXISTS) — complements J7.
@query(
    "j_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --- A1/A2: group-by + SUM + ARRAY_AGG(DISTINCT) — the
# customer_loyalty_metrics mart (customer_loyalty_metrics.sql:9-15).
# collect_set is sorted+stringified for deterministic comparison
# (Snowflake's ARRAY_AGG DISTINCT is unordered; SURVEY §7.4).
@query(
    "a1_loyalty_metrics",
    oracle=f"""
    SELECT c.c_custkey AS customer_id,
           c.c_name AS customer_name,
           c.c_mktsegment AS segment,
           {sum_scaled_sql("CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))", "total_spend", 4)},
           COUNT(DISTINCT o.o_orderkey) AS order_count,
           {sorted_set_str_sql("l.l_suppkey", "visited_suppliers")}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
    """,
    headline=True,
)
def a1_loyalty_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level aggregation (r8, ~1.35x at sf0.1 and the shape that
    # scales): lineitem first collapses per ORDER — map-side partial
    # aggregation eats most of it since lineitem arrives clustered by
    # orderkey, and the per-order supplier set is bounded by
    # lines-per-order — THEN the customer rollup works on 4x fewer,
    # pre-shrunk rows. order_count falls out as a plain COUNT (each
    # order is one row here), avoiding even the collect_set distinct;
    # the customer-level supplier set is a bounded
    # flatten+distinct+sort over per-order sets. No broadcast hint on
    # customer (SF-growing; AQE decides at runtime).
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(revenue_scaled()).alias("spend_scaled"),
        F.collect_set("l_suppkey").alias("supps"),
    )
    return (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey, "inner")
        .join(c, c.c_custkey == o.o_custkey, "inner")
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            (F.sum("spend_scaled").cast("double") / 1e4).alias("total_spend"),
            F.count(F.lit(1)).cast("long").alias("order_count"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("supps")))
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("visited_suppliers"),
        )
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
            "total_spend",
            "order_count",
            "visited_suppliers",
        )
    )


# --- A3/A4 + F1-F4: multi-aggregate + scalar functions — the
# sales_metrics_by_location Python model (sales_metrics_by_location.py:29-74)
# re-expressed natively in PySpark DataFrame API.
@query(
    "a4_sales_by_nation",
    oracle=f"""
    SELECT n.n_nationkey AS nation_id,
           CONCAT(n.n_name, ' (', r.r_name, ')') AS nation_display,
           COUNT(DISTINCT c.c_custkey) AS customer_count,
           COUNT(o.o_orderkey) AS order_count,
           {dsum_sql("o.o_totalprice", "total_sales")},
           {davg_sql("o.o_totalprice", "avg_order_value")}

    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_nationkey, n.n_name, r.r_name
    """,
)
def a4_sales_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) via two-level aggregation, not an in-memory set.

    The distinct customer count per nation is computed as
    ``distinct(nation, custkey) -> count per nation``: the first level is
    a shuffle-based HashAggregate whose per-row state is fixed-size, so
    it scales to any customers-per-nation cardinality. The previous
    ``size(collect_set(c_custkey))`` held ~N/25 custkeys per aggregation
    buffer — an ObjectHashAggregate spill/OOM at 100x SF. The order-side
    aggregates run in a separate branch over orders joined to a
    two-column customer projection, then the two tiny per-nation results
    (25 rows) join back. Nations whose customers placed no orders keep
    order_count = 0 and NULL money aggregates, matching the LEFT JOIN
    semantics of the oracle."""
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nr = n.join(r, n.n_regionkey == r.r_regionkey, "inner")
    # Level 1: distinct (nation, custkey) — fixed-size rows, HashAggregate.
    # Level 2: count per nation — map-side partial, 25-row result.
    cust = (
        c.join(nr, c.c_nationkey == n.n_nationkey, "inner")
        .select("n_nationkey", "n_name", "r_name", "c_custkey")
        .distinct()
        .groupBy("n_nationkey", "n_name", "r_name")
        .agg(F.count(F.lit(1)).alias("customer_count"))
    )
    order_agg = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            o.o_custkey == F.col("c_custkey"),
            "inner",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            dsum("o_totalprice", "total_sales"),
            davg("o_totalprice", "avg_order_value"),
        )
    )
    return (
        cust.join(
            order_agg, cust.n_nationkey == order_agg.c_nationkey, "left"
        )
        .select(
            F.col("n_nationkey").alias("nation_id"),
            F.concat(
                F.col("n_name"), F.lit(" ("), F.col("r_name"), F.lit(")")
            ).alias("nation_display"),
            "customer_count",
            F.coalesce(F.col("order_count"), F.lit(0)).alias("order_count"),
            "total_sales",
            "avg_order_value",
        )
    )


# --- A6: uniqueness check shape (group-by-key HAVING count>1,
# __sources.yml:66-72) on a deliberately non-unique column so rows flow.
@query(
    "a6_unique_violations",
    oracle="""
    SELECT p_brand AS brand, COUNT(*) AS n
    FROM part
    GROUP BY p_brand
    HAVING COUNT(*) > 1
    """,
)
def a6_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "part")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# --- Semi-structured: JSON extraction from the events.props VARIANT
# stand-in (reference carries menu_item_health_metrics_obj VARIANT,
# setup_data.sql:57; never queried there — we demonstrate the query path).
@query(
    "f_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
)
def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id",
        k.alias("k_value"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )


# --- F2-F5: scalar function suite (concat/cast/coalesce/case/date parts) ---
@query(
    "f_scalar_suite",
    oracle="""
    SELECT event_id,
           CONCAT(UPPER(event_type), '-', CAST(user_id AS VARCHAR)) AS tag,
           COALESCE(value, 0.0) AS value_filled,
           CASE WHEN value > 50 THEN 'high'
                WHEN value > 10 THEN 'mid'
                ELSE 'low' END AS value_band,
           CAST(YEAR(ts) AS BIGINT) AS event_year,
           CAST(MONTH(ts) AS BIGINT) AS event_month,
           SUBSTRING(event_type, 1, 3) AS type_prefix
    FROM events
    """,
)
def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.concat(
            F.upper("event_type"), F.lit("-"), F.col("user_id").cast("string")
        ).alias("tag"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_filled"),
        F.when(F.col("value") > 50, "high")
        .when(F.col("value") > 10, "mid")
        .otherwise("low")
        .alias("value_band"),
        F.year("ts").cast("long").alias("event_year"),
        F.month("ts").cast("long").alias("event_month"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
    )


# --- §2.6 function-family breadth: the datetime suite (year/quarter/
# month/day extraction, month truncation, calendar arithmetic, weekday).
# Reference models use DATE_TRUNC/YEAR via Snowflake SQL; this pins the
# engine-portable equivalents on one distinct-date frame.
@query(
    "f_datetime_suite",
    oracle="""
    SELECT DISTINCT
           CAST(o_orderdate AS DATE) AS d,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon,
           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS dom,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS month_start,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
               AS plus_two_months,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(isodow(o_orderdate) - 1 AS BIGINT) AS weekday_mon0,
           CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
               AS days_since_epoch_start
    FROM orders
    """,
)
def f_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per distinct order date with the datetime function family
    applied. add_months clamps to month end exactly like DuckDB's
    +INTERVAL MONTH; weekday is normalized Monday=0 (Spark weekday ==
    isodow-1). Narrow maps over a distinct-date frame — the distinct is
    the only exchange, over |dates| rows."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.select(d.alias("d"))
        .distinct()
        .select(
            "d",
            F.year("d").cast("long").alias("yr"),
            F.quarter("d").cast("long").alias("qtr"),
            F.month("d").cast("long").alias("mon"),
            F.dayofmonth("d").cast("long").alias("dom"),
            F.trunc("d", "month").alias("month_start"),
            F.add_months("d", 2).alias("plus_two_months"),
            F.last_day("d").alias("month_end"),
            F.weekday("d").cast("long").alias("weekday_mon0"),
            F.datediff("d", F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("days_since_epoch_start"),
        )
    )


# --- Join-taxonomy completion: FULL OUTER reconciliation. The one
# join shape the marts don't use (reference is inner/left-only) but a
# warehouse reconciliation report always does: two independently
# aggregated daily series aligned on the calendar with both-side nulls
# surfaced as presence classes.
@query(
    "j_full_outer_daily_reconciliation",
    oracle="""
    WITH o AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT COALESCE(o.day, e.day) AS day,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           CASE WHEN o.day IS NULL THEN 'events_only'
                WHEN e.day IS NULL THEN 'orders_only'
                ELSE 'both' END AS presence
    FROM o FULL OUTER JOIN e ON o.day = e.day
    """,
)
def j_full_outer_daily_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily order volume vs event volume, FULL OUTER joined on the
    calendar day — the reconciliation shape that surfaces days present
    in exactly one system. Both inputs pre-aggregate to |days| rows
    BEFORE the join (never a fact-fact outer join), so the outer join
    is calendar-sized at any corpus scale."""
    o = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .alias("o")
    )
    e = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .alias("e")
    )
    return o.join(e, F.col("o.day") == F.col("e.day"), "full_outer").select(
        F.coalesce(F.col("o.day"), F.col("e.day")).alias("day"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("o.day").isNull(), "events_only")
        .when(F.col("e.day").isNull(), "orders_only")
        .otherwise("both")
        .alias("presence"),
    )
