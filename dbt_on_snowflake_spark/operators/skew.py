"""Skew mitigation — salting for hot join keys (SCALING.md: AQE's skew
split handles moderately hot keys; salting is the explicit tool when a
single key's rows exceed what one task can hold).

Shape: scatter the big side's rows across ``n_salt`` sub-keys and
replicate the small side once per sub-key, so a hot key's rows land in
``n_salt`` parallel tasks instead of one straggler. The salt is a
DETERMINISTIC whole-row hash, not ``rand()`` — Spark retries tasks and
recomputes partitions, and a nondeterministic salt would re-scatter rows
between attempts (duplicate/lost rows under retry). Determinism also
makes the operator oracle-checkable: the salted join must return exactly
the plain join's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.registry import query
from dbt_on_snowflake_spark.testdata import table

N_SALT = 8


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salt: int = N_SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left (big/skewed) side salted and the right
    (small) side replicated n_salt times. Semantics-identical to
    ``left.join(right, on, how)`` for inner/left joins: every right key
    exists at every salt value, so no match is ever missed."""
    sl = left.withColumn(
        "_salt",
        F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salt)),
    )
    sr = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return sl.join(sr, [*on, "_salt"], how).drop("_salt")


@query(
    "j_salted_events_enrich",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j_salted_events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The j2 enrichment join executed through the salted path — the
    oracle is the PLAIN left join, proving salting is purely a physical
    rewrite (scatter + replicate) with identical results. Use when one
    user_id dominates the events table beyond what AQE's skew split
    absorbs; the cost is n_salt x the small side's shuffle volume."""
    e = table(spark, sf_dir, "events").select("event_id", "user_id")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = salted_join(e, c, on=["user_id"], how="left")
    return out.select(
        "event_id",
        "user_id",
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
    )
