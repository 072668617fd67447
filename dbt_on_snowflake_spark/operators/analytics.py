"""Analytic operators beyond the reference's own surface (SURVEY §2.5 notes
these are absent from the reference but free in Spark): window functions,
sorts/limits, set ops, rollup, pivot, sessionization, and the TPC-H-style
headline aggregates used for benchmarking.

All float aggregates go through the decimal-exact path (functions.dsum) so
DuckDB oracle hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.functions import (
    REVENUE_SCALED_SQL,
    dsum,
    dsum_sql,
    revenue_scaled,
    scaled,
    scaled_sql,
    sum_scaled,
    sum_scaled_sql,
)
from dbt_on_snowflake_spark.registry import query
from dbt_on_snowflake_spark.testdata import table


# --- TPC-H Q1 shape: the flagship pricing summary (headline bench query).
@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {dsum_sql("l_quantity", "sum_qty")},
           {dsum_sql("l_extendedprice", "sum_base_price")},
           {sum_scaled_sql(REVENUE_SCALED_SQL, "sum_disc_price", 4)},
           {sum_scaled_sql(f"({REVENUE_SCALED_SQL}) * (100 + {scaled_sql('l_tax')})", "sum_charge", 6)},
           {dsum_sql("l_discount", "sum_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    disc_price = revenue_scaled()  # scale 4
    charge = disc_price * (100 + scaled("l_tax"))  # scale 6
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1999-06-30 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            sum_scaled(disc_price, "sum_disc_price", 4),
            sum_scaled(charge, "sum_charge", 6),
            dsum("l_discount", "sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- TPC-H Q3 shape: join + filter + group + deterministic top-N.
# Sort/limit is order-sensitive, so ties break on the unique order key.
@query(
    "q3_top_revenue_orders",
    oracle=f"""
    SELECT o.o_orderkey AS order_key,
           o.o_orderdate AS order_date,
           {sum_scaled_sql("CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))", "revenue", 4)}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, order_key ASC
    LIMIT 10
    """,
    headline=True,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No broadcast hint: even segment-filtered customer is ~SF*30k rows
    # and grows with scale; AQE converts to broadcast at runtime when the
    # filtered build actually fits.
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .join(l, l.l_orderkey == o.o_orderkey, "inner")
        .groupBy(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
        )
        .agg(sum_scaled(revenue_scaled(), "revenue", 4))
        .orderBy(F.col("revenue").desc(), F.col("order_key").asc())
        .limit(10)
    )


# --- TPC-H Q5 shape: 6-way join filtered by region, revenue per nation.
# Dims broadcast; the only shuffle is lineitem<->orders plus the final
# low-cardinality group-by.
@query(
    "q5_nation_volume",
    oracle=f"""
    SELECT n.n_name AS nation_name,
           {sum_scaled_sql("CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))", "revenue", 4)},
           COUNT(*) AS n_lineitems
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
    headline=True,
)
def q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = F.broadcast(
        table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    )
    n = F.broadcast(table(spark, sf_dir, "nation"))
    # customer: no hint (SF-growing); AQE broadcasts at runtime if it fits.
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey, "inner")
        .join(c, c.c_nationkey == n.n_nationkey, "inner")
        .join(o, o.o_custkey == c.c_custkey, "inner")
        .join(l, l.l_orderkey == o.o_orderkey, "inner")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            sum_scaled(revenue_scaled(), "revenue", 4),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --- TPC-H Q17 shape: correlated scalar subquery (per-part average
# quantity threshold), decorrelated by both engines into a join against
# a pre-aggregated subquery. The avg threshold itself goes through the
# exact scaled-integer path so the filter boundary is engine-identical.
@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
        SELECT l_partkey,
               CAST(SUM({scaled_sql("l_quantity")}) AS DOUBLE) / 100.0
                   / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey AS part_key,
           COUNT(*) AS n_small_orders,
           {dsum_sql("l.l_extendedprice", "small_order_revenue")}
    FROM lineitem l
    JOIN part_avg pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.5 * pa.avg_qty
    GROUP BY l.l_partkey
    """,
    headline=True,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    part_avg = (
        l.groupBy("l_partkey")
        .agg(
            (
                F.sum(scaled("l_quantity")).cast("double") / 100.0
                / F.count(F.lit(1))
            ).alias("avg_qty")
        )
    )
    pa = part_avg.alias("pa")
    return (
        l.alias("l")
        .join(pa, F.col("l.l_partkey") == F.col("pa.l_partkey"), "inner")
        .filter(F.col("l.l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy(F.col("l.l_partkey").alias("part_key"))
        .agg(
            F.count(F.lit(1)).alias("n_small_orders"),
            dsum("l.l_extendedprice", "small_order_revenue"),
        )
    )


# --- TPC-H Q18 shape: HAVING-filtered aggregate (large-volume orders)
# joined back to the fact and dims. Quantities are integral doubles, so
# plain SUM is exact (< 2^53) and engine-identical without scaling.
@query(
    "q18_large_volume_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, SUM(l_quantity) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name AS customer_name,
           c.c_custkey AS customer_id,
           o.o_orderkey AS order_key,
           o.o_orderdate AS order_date,
           o.o_totalprice AS order_total,
           b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: per-order quantity aggregate, HAVING filter,
    then join back to orders and customer. The aggregate runs BEFORE the
    joins (the decorrelated Q18 plan): the join input is the filtered
    ~order-cardinality set, not the lineitem fact. No broadcast hints —
    customer grows with SF; AQE decides at runtime."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select(
            F.col("c_name").alias("customer_name"),
            F.col("c_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_totalprice").alias("order_total"),
            "total_qty",
        )
    )


# --- Calendar rollup: monthly revenue via date_trunc (temporal grouping
# beyond the hourly event windows).
@query(
    "t_monthly_revenue",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           o_orderstatus AS status,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice", "total_sales")}
    FROM orders
    GROUP BY 1, 2
    """,
)
def t_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            # date_trunc returns TIMESTAMP in Spark but DATE-like in
            # DuckDB — pin both to DATE
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_sales"),
        )
    )


# --- Window: top-K per group (row_number over partition, deterministic
# tie-break on unique key). TPC-H-ish "top 3 orders per customer".
@query(
    "w_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey AS customer_id, o_orderkey AS order_key,
           o_totalprice AS total_price, rk AS rank_in_customer
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rk
        FROM orders
    )
    WHERE rk <= 3
    """,
)
def w_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_totalprice").alias("total_price"),
            # row_number is int in Spark, BIGINT in DuckDB — align schema
            F.col("rk").cast("long").alias("rank_in_customer"),
        )
    )


# --- Window: running total + lag delta per user over event time.
@query(
    "w_running_total_events",
    oracle="""
    SELECT event_id,
           user_id,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 10000.0 AS running_value,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ) AS prev_event_type
    FROM events
    """,
)
def w_running_total_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            (
                F.sum(scaled("value", 4)).over(running).cast("double") / 10000.0
            ).alias("running_value"),
            F.lag("event_type").over(w).alias("prev_event_type"),
        )
    )


# SQL-standard empty-scan grouping sets (r8, closes the r7 verdict's
# pinned divergence): standard ROLLUP/CUBE on an empty input still
# yields the grand-total grouping-set row (COUNT=0, SUM NULL —
# DuckDB/PostgreSQL semantics); Spark's Expand-based implementation
# yields zero rows. With the flag on, the grouped result unions a
# fallback row built from a limit(1) probe of the same source: the
# probe short-circuits after one row on non-empty data (the fallback
# filters itself out), and only walks the full scan when the scan IS
# empty — so the 100 TB cost is one extra CollectLimit subtree, not a
# second aggregate pass.
SQL_STANDARD_EMPTY_GROUPING = True


def _empty_scan_grand_total(source: DataFrame, aggs, select_cols) -> DataFrame:
    """One grand-total row iff ``source`` has no rows, else zero rows —
    declarative (no driver-side emptiness check). ``aggs`` are the
    query's aggregate columns (over an empty input they evaluate to the
    SQL-standard empty-aggregate values); ``select_cols`` shapes the row
    to the grouped result's schema (NULL-typed group columns first)."""
    return (
        source.limit(1)
        .agg(F.count(F.lit(1)).alias("__probe"), *aggs)
        .filter(F.col("__probe") == 0)
        .select(*select_cols)
    )


# --- Rollup: hierarchical subtotals region -> nation (absent from the
# reference; noted available in SURVEY §2.4).
@query(
    "a_rollup_revenue",
    oracle=f"""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           {dsum_sql("o.o_totalprice", "total_sales")},
           COUNT(o.o_orderkey) AS order_count
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def a_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard on empty scans too (r8): the Expand-based rollup
    plus the flagged grand-total fallback — see
    SQL_STANDARD_EMPTY_GROUPING above."""
    o = table(spark, sf_dir, "orders")
    # customer: no hint (SF-growing); nation/region stay hinted (fixed 25/5).
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    joined = (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .join(n, c.c_nationkey == n.n_nationkey, "inner")
        .join(r, n.n_regionkey == r.r_regionkey, "inner")
    )
    grouped = (
        joined.rollup(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            dsum("o_totalprice", "total_sales"),
            F.count("o_orderkey").alias("order_count"),
        )
    )
    if not SQL_STANDARD_EMPTY_GROUPING:
        return grouped
    return grouped.unionByName(
        _empty_scan_grand_total(
            joined,
            [
                dsum("o_totalprice", "total_sales"),
                F.count("o_orderkey").alias("order_count"),
            ],
            [
                F.lit(None).cast("string").alias("region_name"),
                F.lit(None).cast("string").alias("nation_name"),
                F.col("total_sales"),
                F.col("order_count"),
            ],
        )
    )


# --- Cube: all grouping-set combinations over two dimensions (the
# grouping-sets family noted available in SURVEY §2.4; GROUPING() ids
# disambiguate NULL-as-total from NULL-as-value).
@query(
    "a_cube_status_priority",
    oracle=f"""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority)
               AS grouping_id,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice", "total_sales")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    grouped = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping() must reference the grouping expression, not an alias
            (
                F.grouping("o_orderstatus") + 2 * F.grouping("o_orderpriority")
            ).cast("long").alias("grouping_id"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_sales"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "grouping_id",
            "n_orders",
            "total_sales",
        )
    )
    if not SQL_STANDARD_EMPTY_GROUPING:
        return grouped
    return grouped.unionByName(
        _empty_scan_grand_total(
            o,
            [
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice", "total_sales"),
            ],
            [
                F.lit(None).cast("string").alias("status"),
                F.lit(None).cast("string").alias("priority"),
                # on the empty-scan grand total, both GROUPING() bits are 1
                F.lit(3).cast("long").alias("grouping_id"),
                F.col("n_orders"),
                F.col("total_sales"),
            ],
        )
    )


# --- Set ops: INTERSECT / EXCEPT, tagged and unioned.
@query(
    "s_setops_segments",
    oracle="""
    SELECT 'building_with_orders' AS cohort, c_custkey
    FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'building_without_orders' AS cohort, c_custkey
    FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders
    )
    """,
)
def s_setops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ordered = o.select(F.col("o_custkey").alias("c_custkey"))
    with_orders = building.intersect(ordered).select(
        F.lit("building_with_orders").alias("cohort"), "c_custkey"
    )
    without = building.exceptAll(ordered).distinct().select(
        F.lit("building_without_orders").alias("cohort"), "c_custkey"
    )
    return with_orders.unionAll(without)


# --- Pivot: wide-format aggregation expressed portably (CASE-WHEN sums,
# identical SQL on both engines; Spark's .pivot() produces the same plan).
@query(
    "a_pivot_status_revenue",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           {dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END", "revenue_open")},
           {dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END", "revenue_finished")},
           {dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END", "revenue_pending")}
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def a_pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def bucket(status: str, alias: str):
        return dsum(
            F.when(F.col("o_orderstatus") == status, F.col("o_totalprice")).otherwise(
                F.lit(0.0)
            ),
            alias,
        )

    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            bucket("O", "revenue_open"),
            bucket("F", "revenue_finished"),
            bucket("P", "revenue_pending"),
        )
    )


# --- Unpivot (melt): the wide pivot output back to long form — the
# inverse pair of a_pivot_status_revenue (SURVEY §2.4 pivot family).
# Spark's native stack() melts inside whole-stage codegen (no shuffle
# beyond the upstream aggregate); DuckDB mirrors with UNPIVOT.
@query(
    "a_unpivot_status_revenue",
    oracle=f"""
    WITH wide AS (
        SELECT o_orderpriority AS priority,
               {dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END", "revenue_open")},
               {dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END", "revenue_finished")},
               {dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END", "revenue_pending")}
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT priority, status, revenue
    FROM wide
    UNPIVOT (revenue FOR status IN (revenue_open, revenue_finished,
                                    revenue_pending))
    """,
)
def a_unpivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = a_pivot_status_revenue(spark, sf_dir)
    return wide.unpivot(
        "priority",
        ["revenue_open", "revenue_finished", "revenue_pending"],
        "status",
        "revenue",
    )


# --- Approximate sketches (HLL distinct, quantile sketch) — the
# cardinality/quantile path for 100 TB where exact distinct is a full
# shuffle of the key set. Sketch VALUES have no SQL oracle (HLL/KLL
# implementations differ across engines by design), so the registered
# query is a BOUNDS CHECK (round-4 verdict item 4): it returns the
# DuckDB-checkable exact values plus booleans asserting each sketch
# lands within its published error bound; the oracle returns the same
# exact values with TRUE literals — a sketch drifting out of tolerance
# flips a boolean and fails the driver's value-hash.
def _approx_sketches_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sketch pass alone: one HashAggregate, fixed-size
    HLL + quantile-sketch state per group."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "a_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           COUNT(*) AS n_rows,
           TRUE AS distinct_within_3rsd,
           TRUE AS median_rank_within_eps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact bounds gate. approx_count_distinct(rsd=0.02) must
    land within 3*rsd (= 6%, the 3-sigma band of the published standard
    error) of the exact two-level distinct count; percentile_approx(0.5,
    accuracy=10000)'s guarantee is a RANK error <= n/accuracy, checked by
    locating the returned value's rank range in the same freq/cumsum
    table the exact-median twin uses (the returned value is always an
    observed value, so the equi-join hits exactly one row) — no
    ``percentile`` ObjectHashAggregate anywhere."""
    sk = _approx_sketches_raw(spark, sf_dir).alias("sk")
    l = table(spark, sf_dir, "lineitem")
    exact = (
        l.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
        .alias("ex")
    )
    freq = l.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = (
        freq.withColumn("cum_end", F.sum("cnt").over(w))
        .withColumn("cum_start", F.col("cum_end") - F.col("cnt"))
        .alias("rk")
    )
    j = sk.join(exact, "l_returnflag").join(
        ranked,
        (F.col("rk.l_returnflag") == F.col("sk.l_returnflag"))
        & (F.col("rk.l_extendedprice") == F.col("sk.approx_median_price")),
    )
    # interpolated-median target ranks (same formula as the exact twin)
    h = (F.col("n_rows") - F.lit(1)) / F.lit(2.0)
    k_lo, k_hi = F.floor(h) + 1, F.ceil(h) + 1
    tol = F.col("n_rows") / F.lit(10000.0) + F.lit(1.0)
    return j.select(
        F.col("sk.l_returnflag").alias("l_returnflag"),
        "exact_orders",
        "n_rows",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 3 * 0.02 * F.col("exact_orders")
        ).alias("distinct_within_3rsd"),
        (
            (F.col("cum_start") + 1 <= k_hi + tol)
            & (F.col("cum_end") >= k_lo - tol)
        ).alias("median_rank_within_eps"),
    )


# --- The exact twin of a_approx_sketches: deterministic and DuckDB-
# expressible, so it IS oracle-checked. percentile() interpolates the
# midpoint exactly like DuckDB's quantile_cont — same two doubles, same
# arithmetic, bit-identical.
@query(
    "a_exact_distinct_median",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           quantile_cont(l_extendedprice, 0.5) AS exact_median_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a_exact_distinct_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct AND exact median, both with fixed-size aggregation
    state (round-3 verdict item 3 closed the median half).

    Distinct: two-level — ``distinct(flag, orderkey)`` (shuffle
    HashAggregate, fixed-size rows) then a count per flag; never an
    in-memory set of ~N/4 orderkeys per group.

    Median: two-pass rank lookup instead of Spark's ``percentile``
    (whose ObjectHashAggregate buffers an unspillable value->count map
    per group that grows with the distinct-price domain, i.e. with SF).
    Pass 1 collapses rows to one fixed-size row per (flag, price)
    (HashAggregate, distributed). Pass 2 assigns cumulative rank ranges
    with a window cumsum over the distinct values — a SORT, which Spark
    spills to disk, unlike an agg buffer — then filters to the <=2 rows
    per group whose rank range covers positions floor(h)+1 / ceil(h)+1
    (h = (n-1)/2) and interpolates with percentile()'s own formula
    ``lo + (hi - lo) * (h - floor(h))`` so the result stays
    bit-identical to DuckDB's quantile_cont. Per-group parallelism of
    the window sort equals group count; within a group the sorted input
    is one skinny row per distinct value, not one per source row.
    ``a_approx_sketches`` above remains the sketch path when even that
    is too much."""
    l = table(spark, sf_dir, "lineitem")
    distinct_orders = (
        l.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    freq = l.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = (
        freq.withColumn("cum_end", F.sum("cnt").over(w))
        .withColumn("cum_start", F.col("cum_end") - F.col("cnt"))
        .withColumn(
            "n_rows",
            F.sum("cnt").over(Window.partitionBy("l_returnflag")),
        )
    )
    h = (F.col("n_rows") - F.lit(1)) / F.lit(2.0)
    k_lo = F.floor(h) + 1  # 1-indexed ranks of the two middle values
    k_hi = F.ceil(h) + 1
    covers_lo = (k_lo > F.col("cum_start")) & (k_lo <= F.col("cum_end"))
    covers_hi = (k_hi > F.col("cum_start")) & (k_hi <= F.col("cum_end"))
    med = (
        ranked.filter(covers_lo | covers_hi)
        .groupBy("l_returnflag", "n_rows")
        .agg(
            F.min(F.when(covers_lo, F.col("l_extendedprice"))).alias("v_lo"),
            F.min(F.when(covers_hi, F.col("l_extendedprice"))).alias("v_hi"),
        )
        .select(
            "l_returnflag",
            (
                F.col("v_lo")
                + (F.col("v_hi") - F.col("v_lo")) * (h - F.floor(h))
            ).alias("exact_median_price"),
            "n_rows",
        )
    )
    return distinct_orders.join(med, "l_returnflag").select(
        "l_returnflag", "exact_orders", "exact_median_price", "n_rows"
    )


# --- Tumbling-window temporal aggregation over events (batch form; the
# streaming/ module runs the same query through Structured Streaming).
@query(
    "t_events_hourly",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql("value", "total_value", 4)}
    FROM events
    GROUP BY 1, 2
    """,
    headline=True,
)
def t_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").start.alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value", 4),
        )
    )


# --- Sessionization: gap-based sessions via lag + cumulative sum (the
# batch idiom; streaming/ uses session_window).
@query(
    "t_events_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ) > INTERVAL '30 minutes'
                    OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id,
           session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {dsum_sql("value", "session_value", 4)}
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def t_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    cum = Window.partitionBy("user_id").orderBy(F.col("ts").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    return (
        table(spark, sf_dir, "events")
        .withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("is_new").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "session_value", 4),
        )
    )


# --- Cohort retention over events: classic product-analytics rollup
# (cohort = first activity day; how many users return k days later).
@query(
    "t_user_retention",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT c.cohort_day,
           CAST(a.day - c.cohort_day AS BIGINT) AS days_since,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a
    JOIN cohort c ON c.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def t_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity day, counted on
    each later activity day. Two shuffles (per-user min, then the cohort
    rollup); the self-join is on user_id — co-partitioned with the
    aggregate, so AQE reuses the exchange. The distinct day projection
    collapses the fact table before anything joins."""
    e = table(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("days_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --- TPC-H Q4 shape: EXISTS semi-join with a date-range filter (late
# shipments by order priority; the trimmed schema has no commit/receipt
# dates, so "late" = any line shipped >60 days after the order date).
@query(
    "q4_late_shipments_by_priority",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY 1
    """,
)
def q4_late_shipments_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter's orders with at least one line shipped >60 days out,
    counted per priority. The correlated EXISTS becomes a left-semi join;
    the date filter pushes into the orders scan BEFORE the join, so the
    semi-join probe side is one quarter of orders, not the full table."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    l = table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("order_count")
    )


# --- Conversion funnel over events: view -> click-after-view ->
# purchase-after-click, per user, rolled up to stage counts. The staged
# MIN(CASE ...) cascade is the relational form of funnel analysis; each
# level is a user-keyed aggregate, co-partitioned with the previous one.
@query(
    "t_event_funnel",
    oracle="""
    WITH u1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS v
        FROM events GROUP BY user_id
    ),
    u2 AS (
        SELECT e.user_id, u1.v,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts > u1.v
                        THEN e.ts END) AS c
        FROM events e JOIN u1 ON e.user_id = u1.user_id
        GROUP BY e.user_id, u1.v
    ),
    u3 AS (
        SELECT e.user_id, u2.v, u2.c,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.c
                        THEN e.ts END) AS p
        FROM events e JOIN u2 ON e.user_id = u2.user_id
        GROUP BY e.user_id, u2.v, u2.c
    )
    SELECT COUNT(*) AS n_users,
           COUNT(v) AS n_viewed,
           COUNT(c) AS n_clicked_after_view,
           COUNT(p) AS n_purchased_after_click
    FROM u3
    """,
)
def t_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")

    def first_after(df, etype: str, after_col, alias: str):
        cond = F.col("event_type") == etype
        if after_col is not None:
            cond = cond & (F.col("ts") > F.col(after_col))
        keys = [c for c in df.columns if c != "_e"]
        return (
            e.join(df, "user_id")
            .groupBy(*[df[c] for c in keys])
            .agg(F.min(F.when(cond, F.col("ts"))).alias(alias))
        )

    u1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v")
    )
    u2 = first_after(u1, "click", "v", "c")
    u3 = first_after(u2, "purchase", "c", "p")
    return u3.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("v").alias("n_viewed"),
        F.count("c").alias("n_clicked_after_view"),
        F.count("p").alias("n_purchased_after_click"),
    )


# --- TPC-H Q2 shape: correlated min-per-group subquery (the cheapest
# supplier per part), decorrelated into agg + equality join-back. The
# testdata has no partsupp table; lineitem's observed unit prices stand
# in for supply cost (same relational shape: fact grouped to candidate
# (part, supplier) costs, min per part, equality join selects the
# argmin rows, then dim joins).
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN((CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 10000)
                   // CAST(l_quantity AS BIGINT)) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT l_partkey, MIN(unit_cost) AS min_cost
        FROM cost GROUP BY l_partkey
    )
    SELECT p.p_partkey AS part_key,
           p.p_brand,
           s.s_name AS supplier_name,
           n.n_name AS nation,
           c.unit_cost AS min_unit_cost_micro
    FROM cost c
    JOIN best b ON b.l_partkey = c.l_partkey AND c.unit_cost = b.min_cost
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size <= 15
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per small part (argmin join-back; ties keep all
    argmin suppliers — a deterministic SET, no arbitrary row pick).

    Plan: one corpus-sized shuffle (the (part, supplier) aggregation of
    lineitem); everything after is part-cardinality — the per-part min
    re-shuffle and the argmin equality join-back move one skinny row
    per (part, supplier) — plus broadcast dim joins. The unit cost is
    SCALED-INTEGER
    micro-dollars (cents x 10000, integer-divided by quantity): float
    division + ROUND differs between engines exactly at half-boundaries
    (a real mismatch caught at sf0.01), and an argmin equality join
    cannot tolerate that — integer arithmetic is bit-identical."""
    l = table(spark, sf_dir, "lineitem")
    cost = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.expr(
                "min((cast(round(l_extendedprice * 100) as bigint) * 10000)"
                " div cast(l_quantity as bigint))"
            ).alias("unit_cost")
        )
    )
    best = cost.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    c, b = cost.alias("c"), best.alias("b")
    return (
        c.join(
            b,
            (F.col("b.l_partkey") == F.col("c.l_partkey"))
            & (F.col("c.unit_cost") == F.col("b.min_cost")),
        )
        .join(p, F.col("p_partkey") == F.col("c.l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("c.l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("p_partkey").alias("part_key"),
            "p_brand",
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            F.col("c.unit_cost").alias("min_unit_cost_micro"),
        )
    )


# --- TPC-H Q20 shape: nested semi-joins (suppliers who moved serious
# volume of large parts) — two IN-subqueries become two left-semi joins;
# nothing from the inner side is projected, so no dedup/Expand appears.
@query(
    "q20_heavy_suppliers",
    oracle="""
    WITH heavy AS (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_size >= 40
        )
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 50
    )
    SELECT s.s_suppkey AS supplier_id,
           s.s_name AS supplier_name,
           n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)
def q20_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with > 50 units shipped of any single large part
    (p_size >= 40). Inner IN-subquery = left-semi of lineitem against
    the filtered part keys (broadcast: a size-filtered dim); outer IN =
    left-semi of supplier against the HAVING-filtered aggregate.
    Quantities are integral doubles — plain SUM is exact and
    engine-identical."""
    l = table(spark, sf_dir, "lineitem")
    big_parts = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 40)
        .select("p_partkey")
    )
    heavy = (
        l.join(
            F.broadcast(big_parts),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
        )
    )


# --- TPC-H Q6 shape: single-table filtered aggregate — the pushdown
# showcase: all three predicates land in the parquet scan's
# PushedFilters, the scan reads 3 columns, and the aggregate is a
# fixed-state partial+final pair with no group key (one row out).
@query(
    "q6_forecast_revenue_delta",
    oracle=f"""
    SELECT {sum_scaled_sql(
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
        " * CAST(ROUND(l_discount * 100) AS BIGINT)", "promo_revenue", 4)},
           COUNT(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    f = l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        sum_scaled(
            scaled("l_extendedprice") * scaled("l_discount"),
            "promo_revenue",
            4,
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# --- TPC-H Q10 shape: returned-item losers — customers ranked by revenue
# lost to returns in one quarter. Fact-fact join shuffles once on
# orderkey; nation broadcasts; deterministic top-20 via
# TakeOrderedAndProject with custkey tie-break.
@query(
    "q10_returned_item_losers",
    oracle=f"""
    WITH ranked AS (
        SELECT c.c_custkey AS cust_key, c.c_name AS cust_name,
               n.n_name AS nation_name,
               ROUND(c.c_acctbal, 2) AS acctbal,
               {sum_scaled_sql(
                   "CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)"
                   " * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))",
                   "lost_revenue", 4)}
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY 1, 2, 3, 4
    )
    SELECT * FROM ranked
    ORDER BY lost_revenue DESC, cust_key ASC
    LIMIT 20
    """,
)
def q10_returned_item_losers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .agg(sum_scaled(revenue_scaled(), "lost_revenue", 4))
        .orderBy(F.col("lost_revenue").desc(), F.col("cust_key").asc())
        .limit(20)
    )


# --- TPC-H Q14 shape: promo revenue share — conditional aggregation over
# the part join. Part is SF-growing (no hint); the promo share is an
# exact integer-scaled ratio surfaced as one double.
@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                   ELSE 0 END) AS DOUBLE)
           / SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
               AS promo_share_pct,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = revenue_scaled()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                100.0 * F.sum(promo).cast("double") / F.sum(rev)
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --- TPC-H Q19 shape: disjunctive brand/size/quantity predicate revenue.
# The OR-of-ANDs predicate cannot push down whole, but each disjunct's
# join key side does; Catalyst extracts the common p_partkey equi-key so
# this stays a hash join with a residual condition, never a cartesian.
@query(
    "q19_branded_quantity_revenue",
    oracle=f"""
    SELECT {sum_scaled_sql(
        "CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))",
        "revenue", 4)},
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_branded_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & sz.between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & sz.between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & sz.between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            sum_scaled(revenue_scaled(), "revenue", 4),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --- Event-sequence mining: per-user consecutive event-type transitions
# (the Markov/path-analysis primitive behind "what do users do after X").
# One user-keyed window pass produces (prev, next) pairs; the count
# aggregate is low-cardinality (|event_types|^2 groups).
@query(
    "t_event_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*) AS n_transitions,
           COUNT(DISTINCT user_id) AS n_users
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def t_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive event-type transition counts per user — event-sequence
    mining. Scale: one shuffle on user_id for the lag window (same
    partitioning every sessionization/retention query already uses —
    co-partitioned if events are bucketed by user), then a tiny
    fixed-cardinality aggregate; the distinct-user count rides the same
    groups."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ordered = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    return ordered.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- TPC-H Q16 shape: supplier breadth per part attribute — how many
# DISTINCT suppliers ship each (brand, type, size) bucket, excluding a
# denylist of suppliers. lineitem stands in for partsupp (same relational
# shape); the denylist is an anti-join on a tiny aggregate.
@query(
    "q16_supplier_breadth",
    oracle="""
    WITH bad AS (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 5, 9, 13, 17, 21)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 5, 9, 13, 17, 21)
    )
    bad = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


# --- Metric anomaly detection: hourly event-rate z-scores per type.
# Two-level aggregate (hourly counts -> per-type mean/std) joined back —
# the monitoring shape behind every "traffic dropped at 3am" alert.
@query(
    "t_events_rate_anomalies",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', ts) AS hour_start,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               AVG(n_events) AS mean_rate,
               COALESCE(stddev_pop(n_events), 0.0) AS std_rate
        FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hour_start, h.n_events,
           ROUND(s.mean_rate, 4) + 0.0 AS mean_rate,
           ROUND((h.n_events - s.mean_rate)
                 / greatest(s.std_rate, 1e-9), 4) + 0.0 AS z_score
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    WHERE abs((h.n_events - s.mean_rate) / greatest(s.std_rate, 1e-9)) > 2.0
    """,
)
def t_events_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate anomalies per type (|z| > 2 against the type's
    own hourly distribution). Scale: the first aggregate map-side-
    combines into (type, hour) partials — the only corpus-sized shuffle;
    the per-type stats table is |event_types| rows, broadcast back onto
    the hourly table. AVG/STDDEV over hourly COUNTS (integers) are
    deterministic to well past the 4-decimal rounding grain — safe
    without the scaled-integer money path."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type",
            F.window("ts", "1 hour").start.alias("hour_start"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.avg("n_events").alias("mean_rate"),
        F.coalesce(F.stddev_pop("n_events"), F.lit(0.0)).alias("std_rate"),
    )
    z = (F.col("n_events") - F.col("mean_rate")) / F.greatest(
        F.col("std_rate"), F.lit(1e-9)
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.0)
        .select(
            "event_type",
            "hour_start",
            "n_events",
            (F.round("mean_rate", 4) + 0.0).alias("mean_rate"),
            (F.round(z, 4) + 0.0).alias("z_score"),
        )
    )


# --- TPC-H Q15 shape: top supplier(s) by period revenue — an aggregate
# "view" joined back to its own MAX (the argmax-with-ties idiom; Q2 is
# the per-group variant, this is the global one).
@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sum_scaled_sql(
                   "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                   " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))",
                   "total_revenue", 4)}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY 1
    )
    SELECT s.s_suppkey AS supplier_key, s.s_name AS supplier_name,
           r.total_revenue
    FROM revenue r
    JOIN supplier s ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global argmax with ties: the period-revenue aggregate is computed
    once, its scalar MAX broadcast back as a filter (Catalyst plans the
    scalar subquery as a reused subquery result, not a second lineitem
    scan of the raw table), then the supplier dim joins on the few
    surviving rows."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        sum_scaled(revenue_scaled(), "total_revenue", 4)
    )
    best = revenue.agg(F.max("total_revenue").alias("m"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best), revenue.total_revenue == best.m)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("supplier_key"),
            F.col("s_name").alias("supplier_name"),
            "total_revenue",
        )
    )


# --- TPC-H Q7 shape: bidirectional nation-pair trade volume. Both join
# directions (supp nation x cust nation) survive the filter, so the
# result is the 2x2 pair matrix by ship year.
@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           {sum_scaled_sql(REVENUE_SCALED_SQL, "revenue", 4)}
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l.l_shipdate)
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): lineitem joins BOTH nation
    dims — supplier-side and customer-side — with the pair filter, then
    aggregates revenue by (supp_nation, cust_nation, ship year). The two
    nation copies broadcast (25 rows each); the date filter pushes to
    the lineitem scan; one shuffle for the final group."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    nations = ("NATION_1", "NATION_2")
    sn = F.broadcast(
        table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    ).alias("sn")
    cn = F.broadcast(
        table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    ).alias("cn")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .join(cn, F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .groupBy(
            F.col("sn.n_name").alias("supp_nation"),
            F.col("cn.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(sum_scaled(revenue_scaled(), "revenue", 4))
    )


# --- TPC-H Q9 shape: product-type profit by (nation, year). The
# reference schema has no partsupp, so supply cost is p_retailprice —
# the SHAPE (part-name filter fanning into a 5-way join, profit =
# revenue minus cost, grouped by supplier nation x order year) is Q9's.
@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           {sum_scaled_sql(
               f"({REVENUE_SCALED_SQL}"
               f" - {scaled_sql('p.p_retailprice')} * {scaled_sql('l.l_quantity')})",
               "sum_profit", 4)}
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%ring%'
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product profit): part-name filter prunes the part
    dim before it joins (broadcast after the filter at this SF; at 100x
    the size gate decides), profit is computed in exact scale-4 integers
    (revenue minus retail cost) and aggregated by supplier nation and
    order year — one shuffle, no Expand.

    The name pattern is '%ring%' (~12% of this testdata's two-word part
    names): TPC-H's canonical '%green%' transliterated to a token the
    generator actually emits. The original '%5%' matched zero parts, so
    every prior green row proved only empty-set agreement (VERDICT r14
    Next #3); the constant is retuned in query AND oracle together and
    the parity replica now asserts nonzero rows at SF_SMOKE."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%"))
    s = table(spark, sf_dir, "supplier")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    o = table(spark, sf_dir, "orders")
    profit = revenue_scaled() - scaled("p_retailprice") * scaled("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(sum_scaled(profit, "sum_profit", 4))
    )


# --- TPC-H Q13 shape: distribution of per-customer order counts
# (including zero) — LEFT join + two-level aggregation.
@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): LEFT join keeps
    zero-order customers (COUNT over the null-extended side counts 0),
    then the per-customer counts aggregate into a distribution. Two
    shuffles total: custkey, then c_count — the second is over a
    hundred-ish distinct counts, map-side combined."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# --- TPC-H Q21 shape: suppliers who failed multi-supplier orders. The
# schema has no commit/receipt dates; the "failed delivery" marker is a
# returned line (l_returnflag = 'R'), keeping Q21's EXISTS / NOT EXISTS
# double-correlation: count supplier S on order O iff S failed, another
# supplier participated, and NO other supplier failed.
@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH per AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS failed
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey, l.l_suppkey
    ),
    per_order AS (
        SELECT l_orderkey,
               COUNT(*) AS n_supp,
               SUM(failed) AS n_failed
        FROM per GROUP BY l_orderkey
    )
    SELECT s.s_name AS supplier_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per p
    JOIN per_order po ON po.l_orderkey = p.l_orderkey
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    WHERE p.failed = 1 AND po.n_supp > 1 AND po.n_failed = 1
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS/NOT-EXISTS double correlation decorrelates into ONE
    per-(order, supplier) aggregate plus a per-order rollup joined back
    — each a map-side-combined hash aggregate on the same orderkey
    prefix, so the rollup reuses the first shuffle's partitioning.
    Never a per-row subquery execution."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = table(spark, sf_dir, "lineitem")
    per = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(l.l_orderkey, "l_suppkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("failed")
        )
    )
    per_order = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("failed").alias("n_failed"),
    )
    s = table(spark, sf_dir, "supplier")
    return (
        per.join(per_order, "l_orderkey")
        .filter(
            (F.col("failed") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_failed") == 1)
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --- TPC-H Q22 shape: dormant high-balance customers by nation. The
# schema has no phone country code; nation plays its role.
@query(
    "q22_dormant_customers",
    oracle=f"""
    WITH thresh AS (
        SELECT CAST(SUM({scaled_sql("c_acctbal")}) AS DOUBLE) / 100.0
               / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {dsum_sql("c.c_acctbal", "total_acctbal")}
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > (SELECT avg_bal FROM thresh)
      AND NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY n.n_name
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): a scalar-subquery
    balance threshold (computed through the exact scaled-integer
    average so the comparison boundary is engine-identical), a NOT
    EXISTS decorrelated into a left-anti join on custkey, and a final
    nation rollup. The threshold is a 1-row broadcast; the anti-join is
    the only customer-sized shuffle (the date filter on orders pushes
    to the scan, shrinking the anti-join's build side).

    "Dormant" is time-scoped — no orders on/after 2000-01-01 (the
    generator gives every customer at least one order ever, so TPC-H's
    literal "no orders at all" selects the empty set at every SF and
    the row's hash proved only empty-set agreement, VERDICT r14
    Next #3); the cutoff is retuned in query AND oracle together and
    the parity replica now asserts nonzero rows at SF_SMOKE."""
    c = table(spark, sf_dir, "customer")
    thresh = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(scaled("c_acctbal")).cast("double")
                / 100.0
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    n = F.broadcast(table(spark, sf_dir, "nation"))
    rich = c.crossJoin(F.broadcast(thresh)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        dormant.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "total_acctbal"),
        )
    )


# --- TPC-H Q8 shape: national market share — a per-year conditional
# revenue ratio over the full snowflake join (region-filtered customer
# market, one nation's suppliers in the numerator).
@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(100.0 * SUM(CASE WHEN sn.n_name = 'NATION_1'
                  THEN {REVENUE_SCALED_SQL} ELSE 0 END) AS DOUBLE)
               / SUM({REVENUE_SCALED_SQL}) AS mkt_share_pct,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY EXTRACT(year FROM o.o_orderdate)
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest join in the
    suite — lineitem through orders/customer/nation/region on the
    market side and supplier/nation on the share side, plus the part
    filter — collapsing into a per-year conditional-revenue ratio.
    Region/nation broadcast by hint (fixed cardinality); the date
    filter pushes into the orders scan; the final agg is one shuffle
    over |years| groups. The ratio divides two exact scaled-integer
    sums as doubles, so the boundary is engine-identical."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    r = F.broadcast(
        table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    cn = F.broadcast(table(spark, sf_dir, "nation")).alias("cn")
    sn = F.broadcast(table(spark, sf_dir, "nation")).alias("sn")
    s = table(spark, sf_dir, "supplier")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    rev = revenue_scaled()
    national = F.when(F.col("sn.n_name") == "NATION_1", rev).otherwise(F.lit(0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(r, F.col("cn.n_regionkey") == F.col("r_regionkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                100.0 * F.sum(national).cast("double") / F.sum(rev)
            ).alias("mkt_share_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --- TPC-H Q11 shape: groups whose value share beats a GLOBAL scalar
# threshold. The schema has no partsupp; supplier shipped value
# (price x quantity) plays the stock value's role — the HAVING-vs-
# scalar-subquery shape is Q11's.
@query(
    "q11_important_suppliers",
    oracle=f"""
    WITH val AS (
        SELECT l_suppkey,
               SUM({scaled_sql("l_extendedprice")}
                   * {scaled_sql("l_quantity")}) AS v
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey AS supplier_key,
           CAST(v AS DOUBLE) / 10000.0 AS shipped_value
    FROM val
    WHERE CAST(v AS DOUBLE) > 0.002 * (SELECT CAST(SUM(v) AS DOUBLE) FROM val)
    """,
)
def q11_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-supplier shipped value
    filtered against a fraction of the GLOBAL total — the
    HAVING-vs-scalar-subquery pattern. The per-group aggregate is
    computed once; its global sum re-aggregates the small per-supplier
    table (never a second lineitem pass) and broadcasts back as a
    1-row threshold. All value arithmetic is exact scaled integers;
    both filter sides go through identical double casts."""
    l = table(spark, sf_dir, "lineitem")
    val = l.groupBy("l_suppkey").agg(
        F.sum(scaled("l_extendedprice") * scaled("l_quantity")).alias("v")
    )
    total = val.agg(F.sum("v").alias("tv"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double") > 0.002 * F.col("tv").cast("double"))
        .select(
            F.col("l_suppkey").alias("supplier_key"),
            (F.col("v").cast("double") / 10000.0).alias("shipped_value"),
        )
    )


# --- TPC-H Q12 shape (shipping modes & order priority): fact->orders
# join with a date window, then CONDITIONAL counts over the join — the
# classic CASE-inside-aggregate pattern. The trimmed schema has no
# l_shipmode/commit/receipt dates (reference setup/tasty_bytes.sql has
# the full TPC-H DDL), so l_linestatus stands in for ship mode and
# "late receipt" = shipped >30 days after the order date (same
# predicate family as q4's lateness window).
@query(
    "q12_priority_by_shipmode",
    oracle="""
    SELECT l.l_linestatus AS ship_mode,
           COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate < DATE '1997-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY 1
    """,
)
def q12_priority_by_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late 1996 shipments split into urgent/non-urgent line counts per
    ship-mode stand-in. The year filter pushes into the lineitem scan
    (only that slice joins); the lateness predicate rides the join
    condition so it evaluates during the probe, never as a post-join
    filter over the full year. One shuffle join (orders is SF-growing,
    never broadcast per SCALING.md) + one 2-group hash aggregate."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    o = table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > F.expr("o_orderdate + INTERVAL 30 DAY")),
        )
        .groupBy(F.col("l_linestatus").alias("ship_mode"))
        .agg(
            F.count(F.when(urgent, 1)).alias("high_line_count"),
            F.count(F.when(~urgent, 1)).alias("low_line_count"),
        )
    )


# --- ntile quartiles: per-customer order-value quartile assignment
# rolled up to global per-quartile stats — window-ranking family breadth
# (SURVEY §2.5) alongside row_number/rank/lag.
@query(
    "w_ntile_customer_value_quartiles",
    oracle=f"""
    WITH t AS (
        SELECT o_custkey,
               NTILE(4) OVER (
                   PARTITION BY o_custkey
                   ORDER BY {scaled_sql('o_totalprice')} ASC, o_orderkey ASC
               ) AS quartile,
               {scaled_sql('o_totalprice')} AS v
        FROM orders
    )
    SELECT CAST(quartile AS BIGINT) AS quartile,
           COUNT(*) AS n_orders,
           CAST(SUM(v) AS BIGINT) AS total_value_scaled
    FROM t GROUP BY 1
    """,
)
def w_ntile_customer_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) within each customer's own orders (scaled-integer value
    with orderkey tie-break, so bucket edges are deterministic), rolled
    up to per-quartile counts and exact value mass. Partitioning by
    custkey keeps every window tiny — this is the scalable ntile shape;
    a GLOBAL ntile would be a TeraSort-class total order and belongs to
    the approx-quantile path instead (a_approx_sketches)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        scaled("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            scaled("o_totalprice").alias("v"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("v").alias("total_value_scaled"),
        )
    )


# --- Explicit GROUPING SETS (beyond rollup/cube): exactly the two
# marginal totals, no cross combination — the form report queries
# actually use. DataFrame.groupingSets landed in Spark 4.0.
@query(
    "a_grouping_sets_status_priority",
    oracle=f"""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           {dsum_sql("o_totalprice", "total_value")},
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def a_grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status-marginal and priority-marginal totals in ONE pass via
    explicit grouping sets (one Expand x2 then a single hash aggregate —
    cheaper than two scans unioned). grouping_id disambiguates the NULL
    produced by the set shape from a NULL data value."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dsum("o_totalprice", "total_value"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "gid",
            "total_value",
            "n_orders",
        )
    )


# --- percent_rank / cume_dist: the relative-standing window pair
# (SURVEY §2.5 breadth next to row_number/rank/ntile). Grouped by
# priority so each window is bounded; ratios are exact integer-derived
# doubles (rank arithmetic), so no rounding discipline is needed.
@query(
    "w_percentile_standing_orders",
    oracle=f"""
    WITH t AS (
        SELECT o_custkey, o_orderpriority AS priority,
               PERCENT_RANK() OVER (
                   PARTITION BY o_custkey
                   ORDER BY {scaled_sql('o_totalprice')} ASC, o_orderkey ASC
               ) AS pr,
               CUME_DIST() OVER (
                   PARTITION BY o_custkey
                   ORDER BY {scaled_sql('o_totalprice')} ASC, o_orderkey ASC
               ) AS cd
        FROM orders
    )
    SELECT priority,
           COUNT(CASE WHEN pr >= 0.9 THEN 1 END) AS n_top_decile,
           COUNT(CASE WHEN cd <= 0.5 THEN 1 END) AS n_bottom_half,
           COUNT(*) AS n_orders
    FROM t GROUP BY priority
    """,
)
def w_percentile_standing_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing of each order WITHIN ITS CUSTOMER's history
    (percent_rank / cume_dist, unique orderkey tie-break), rolled up to
    per-priority counts. Windows partition by custkey — millions of tiny
    sorts, the scalable shape; a per-priority window would be 5
    unbounded-size sort partitions, the same TeraSort trap the grouped
    ntile avoids (and the reason this query is scoped this way)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        scaled("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    t = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return t.groupBy("priority").agg(
        F.count(F.when(F.col("pr") >= 0.9, 1)).alias("n_top_decile"),
        F.count(F.when(F.col("cd") <= 0.5, 1)).alias("n_bottom_half"),
        F.count(F.lit(1)).alias("n_orders"),
    )
