"""As-of join — a temporal operator Spark lacks natively (SURVEY §2.3
notes range/as-of joins are absent from the reference; they're table
stakes for a time-series-capable engine, so we add them as an extension).

Semantics: for each left row (user_id, ts), attach the most recent right
row (same key, right.ts <= left.ts). Implemented as the *scalable*
composition — union both sides, one window sort per key, carry the last
right value forward — NOT the naive key-join + filter + rank, whose
intermediate is |left per key| x |right per key| and explodes on hot keys.

Cost: one shuffle (partition by key), one per-key sort. State per key is
O(1) during the scan (last_value ignoring nulls). This is exactly the
merge phase of `pd.merge_asof`, expressed relationally so it distributes.

Tie contract: among right rows sharing (key, ts), the row with the
GREATEST right-value tuple wins (lexicographic over `right_values`, or
over an explicit `right_tiebreak` column when given). This makes the
output deterministic under any partitioning/parallelism — `pd.merge_asof`
and DuckDB's native ASOF both pick an arbitrary tied row, which is not a
contract an engine should ship.

Oracle: explicit ROW_NUMBER over the candidate set with the same
tie-break, so both engines are pinned to the same row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dbt_on_snowflake_spark.registry import query
from dbt_on_snowflake_spark.testdata import table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    right_tiebreak: str | None = None,
    direction: str = "backward",
    tolerance: "F.Column | None" = None,
) -> DataFrame:
    """Left as-of join: the nearest right row per key — latest with
    right_ts <= left_ts (``direction='backward'``, default) or earliest
    with right_ts >= left_ts (``'forward'``, the "next event after"
    lookup). ``tolerance`` (a Column: ``F.expr("INTERVAL 7 DAYS")`` for
    timestamps, a numeric literal for numeric axes) bounds the match
    gap like ``pd.merge_asof``'s — a match farther than the tolerance
    yields NULL right values, not a stale join.

    Both inputs are unioned with a side tag; right rows sort before left
    rows at equal timestamps (inclusive semantics in both directions).
    The right values are carried as ONE struct (row-atomic: a left row
    never sees fields mixed from different right rows) via
    last(..., ignorenulls) over (key ORDER BY ts, side, tiebreak) —
    forward mirrors the ordering (ts DESC), so it is the same one-pass
    shape, not a second algorithm. Ties on (key, ts) resolve to the
    greatest tie-break value backward / the least forward (the symmetric
    nearest-first contract); `pd.merge_asof` and DuckDB ASOF leave tied
    picks arbitrary, which is not a contract an engine should ship."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    lcols = left.columns
    rv_fields = list(right_values)
    if right_ts not in rv_fields:  # carry the matched ts for tolerance
        rv_fields.append(right_ts)
    rv_type = StructType([right.schema[c] for c in rv_fields])
    tb = (
        F.col(f"_rv.{right_tiebreak}")
        if right_tiebreak is not None
        else F.col("_rv")
    )
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_lrow"),
        F.lit(None).cast(rv_type).alias("_rv"),
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l.schema["_lrow"].dataType).alias("_lrow"),
        F.struct(*[F.col(c) for c in rv_fields]).alias("_rv"),
    )
    # Left rows carry a NULL _rv; _side places every right row before the
    # left rows at the same ts (both directions), so the tie-break column
    # only ever orders right rows among themselves.
    ts_key = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    tb_key = tb.asc_nulls_first() if direction == "backward" else tb.desc_nulls_first()
    w = (
        Window.partitionBy("_k")
        .orderBy(ts_key, F.col("_side").asc(), tb_key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        "_k",
        "_ts",
        "_side",
        "_lrow",
        F.last("_rv", ignorenulls=True).over(w).alias("_rv"),
    )
    matched = F.col("_rv").isNotNull()
    if tolerance is not None:
        gap = (
            F.col("_ts") - F.col(f"_rv.{right_ts}")
            if direction == "backward"
            else F.col(f"_rv.{right_ts}") - F.col("_ts")
        )
        matched = matched & (gap <= tolerance)
    out = carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_lrow.{c}").alias(c) for c in lcols],
        *[
            F.when(matched, F.col(f"_rv.{c}")).alias(c)
            for c in right_values
        ],
    )
    return out


@query(
    "asof_last_order_before_event",
    oracle="""
    WITH ranked AS (
        SELECT e.event_id,
               e.user_id,
               e.ts AS event_ts,
               o.o_orderkey,
               o.o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id,
           user_id,
           event_ts,
           o_orderkey AS last_order_key,
           o_totalprice AS last_order_price
    FROM ranked
    WHERE rn = 1
    """,
    headline=True,
)
def asof_last_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the user's most recent order at event time —
    the canonical as-of enrichment (feature lookup at example time).
    Orders sharing (custkey, orderdate) tie-break to the greatest
    o_orderkey; the oracle's ROW_NUMBER pins the identical row, unlike
    DuckDB's native ASOF JOIN whose tied pick is arbitrary."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    left = e.select("event_id", "user_id", F.col("ts").alias("event_ts"))
    right = o.select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join(
        left,
        right,
        on="user_id",
        left_ts="event_ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        "event_ts",
        F.col("o_orderkey").alias("last_order_key"),
        F.col("o_totalprice").alias("last_order_price"),
    )


@query(
    "asof_next_order_after_event",
    oracle="""
    WITH ranked AS (
        SELECT e.event_id,
               e.user_id,
               e.ts AS event_ts,
               o.o_orderkey,
               o.o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate ASC, o.o_orderkey ASC
               ) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    )
    SELECT event_id,
           user_id,
           event_ts,
           o_orderkey AS next_order_key,
           o_totalprice AS next_order_price
    FROM ranked
    WHERE rn = 1
    """,
)
def asof_next_order_after_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every event, the user's NEXT order at/after
    event time — the conversion-attribution lookup ("did this session
    lead to a purchase, and which"). Same one-pass union+window shape as
    the backward join, mirrored ordering; ties at equal orderdate pick
    the least o_orderkey (nearest-first symmetric contract)."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    left = e.select("event_id", "user_id", F.col("ts").alias("event_ts"))
    right = o.select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join(
        left,
        right,
        on="user_id",
        left_ts="event_ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "event_ts",
        F.col("o_orderkey").alias("next_order_key"),
        F.col("o_totalprice").alias("next_order_price"),
    )


ASOF_TOLERANCE_DAYS = 30


@query(
    "asof_last_order_within_30d",
    oracle=f"""
    WITH ranked AS (
        SELECT e.event_id,
               e.user_id,
               e.ts AS event_ts,
               o.o_orderkey,
               o.o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id,
           user_id,
           event_ts,
           CASE WHEN event_ts - (SELECT o_orderdate FROM orders oo
                                 WHERE oo.o_orderkey = ranked.o_orderkey)
                     <= INTERVAL '{ASOF_TOLERANCE_DAYS} days'
                THEN o_orderkey END AS last_order_key,
           CASE WHEN event_ts - (SELECT o_orderdate FROM orders oo
                                 WHERE oo.o_orderkey = ranked.o_orderkey)
                     <= INTERVAL '{ASOF_TOLERANCE_DAYS} days'
                THEN o_totalprice END AS last_order_price
    FROM ranked
    WHERE rn = 1
    """,
)
def asof_last_order_within_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with TOLERANCE: the most recent order only if it
    is within 30 days of the event — a stale match yields NULLs instead
    of a months-old feature leaking into the example (merge_asof's
    ``tolerance``, as a post-window filter: same plan cost)."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    left = e.select("event_id", "user_id", F.col("ts").alias("event_ts"))
    right = o.select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join(
        left,
        right,
        on="user_id",
        left_ts="event_ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
        tolerance=F.expr(f"INTERVAL {ASOF_TOLERANCE_DAYS} DAYS"),
    )
    return out.select(
        "event_id",
        "user_id",
        "event_ts",
        F.col("o_orderkey").alias("last_order_key"),
        F.col("o_totalprice").alias("last_order_price"),
    )
