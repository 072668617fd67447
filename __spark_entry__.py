"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``dbt_on_snowflake_spark/operators/`` and register
themselves (with their DuckDB oracles) into
``dbt_on_snowflake_spark.registry``; this module is a thin adapter.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from dbt_on_snowflake_spark.registry import all_queries, driver_queries  # noqa: E402


def _set_testdata_confs(spark: SparkSession) -> None:
    """Confs the driver-owned session needs to read the testdata parquet.

    Older driver testdata stored events.ts as TIMESTAMP(NANOS) (needs
    nanosAsLong); current testdata stores TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which Spark 4 would infer as TIMESTAMP_NTZ —
    uncastable to numeric and misaligned with DuckDB's naive-as-UTC
    reading — so force TIMESTAMP_LTZ + UTC. testdata.table() also carries
    a per-column fallback for sessions where these cannot be set — so a
    CANNOT_MODIFY_CONFIG session must fall through to it, not raise."""
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # immutable conf on this session; testdata.table() copes


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    _set_testdata_confs(spark)
    q = all_queries()["q1_pricing_summary"]
    return q.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """This round's driver export: at most ``DRIVER_BUDGET`` (50) queries.

    ``registry.driver_export`` picks them from the committed
    ``CORRECTNESS_r*.json`` files: first every query of the rotation pool
    never driver-green or last green three or more rounds ago, then the
    rest by oldest green round (``PRIORITY`` rows lead each group), so
    each pool query gets a fresh driver row at least every three rounds.
    Every registered query, exported or not, is hash-compared against
    DuckDB by tests/test_oracle_parity.py.
    """

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _set_testdata_confs(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(q.fn) for name, q in driver_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; omitted => rows-only check."""
    return {
        name: q.oracle for name, q in driver_queries().items() if q.oracle is not None
    }
