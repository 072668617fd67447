"""engine.catalog: the job-free catalog listing must report exactly what
PySpark's ``spark.catalog.list*`` calls report, for every kind of entry
the maintenance sweeps meet, while launching no Spark job."""

from __future__ import annotations

import os
import shutil

from dbt_on_snowflake_spark.engine.catalog import (
    list_databases,
    list_tables,
    partition_columns,
)
from tests.conftest import spark_jobs


def _entries(spark):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    ext = os.path.join(wh, "catx_external_dir")
    shutil.rmtree(ext, ignore_errors=True)
    spark.range(4).toDF("k").write.parquet(ext)
    spark.sql("CREATE DATABASE IF NOT EXISTS catx_db")
    spark.range(6).selectExpr("id", "id % 2 AS p", "id % 3 AS q").write.mode(
        "overwrite"
    ).partitionBy("p", "q").saveAsTable("catx_db.catx_parted")
    spark.range(3).write.mode("overwrite").saveAsTable("catx_managed")
    spark.sql("DROP TABLE IF EXISTS catx_external")
    spark.catalog.createTable("catx_external", path=ext, source="parquet")
    spark.sql("CREATE OR REPLACE VIEW catx_db.catx_view AS SELECT 1 AS one")
    spark.range(2).createOrReplaceTempView("catx_temp")
    return ext


def _cleanup(spark, ext):
    spark.catalog.dropTempView("catx_temp")
    spark.sql("DROP TABLE IF EXISTS catx_managed")
    spark.sql("DROP TABLE IF EXISTS catx_external")
    spark.sql("DROP DATABASE IF EXISTS catx_db CASCADE")
    shutil.rmtree(ext, ignore_errors=True)


def test_catalog_listing_matches_pyspark_catalog(spark):
    ext = _entries(spark)
    try:
        dbs = list_databases(spark)
        assert sorted(dbs) == sorted(
            d.name for d in spark.catalog.listDatabases()
        )
        assert {"default", "catx_db"} <= set(dbs)
        kinds = {}
        for db in dbs:
            got = [
                (t.name, t.database, t.table_type, t.is_temporary)
                for t in list_tables(spark, db)
            ]
            want = [
                (t.name, t.database, t.tableType, t.isTemporary)
                for t in spark.catalog.listTables(db)
            ]
            assert got == want, db
            for name, database, kind, temp in got:
                kinds[(db, name)] = kind
                if not name.startswith("catx_"):
                    continue  # other tests' tables: listing compared only
                qual = name if temp else f"`{database}`.`{name}`"
                assert partition_columns(spark, qual) == [
                    c.name
                    for c in spark.catalog.listColumns(qual)
                    if c.isPartition
                ], qual
        # every kind of entry was compared
        assert kinds[("default", "catx_managed")] == "MANAGED"
        assert kinds[("default", "catx_external")] == "EXTERNAL"
        assert kinds[("catx_db", "catx_view")] == "VIEW"
        assert kinds[("catx_db", "catx_temp")] == "TEMPORARY"
        assert kinds[("catx_db", "catx_parted")] == "MANAGED"
        assert partition_columns(spark, "catx_db.catx_parted") == ["p", "q"]
    finally:
        _cleanup(spark, ext)


def test_catalog_listing_launches_no_jobs(spark):
    ext = _entries(spark)
    try:
        with spark_jobs(spark) as seen:
            for db in list_databases(spark):
                list_tables(spark, db)
            partition_columns(spark, "catx_db.catx_parted")
            partition_columns(spark, "catx_external")
        assert seen.jobs == []
    finally:
        _cleanup(spark, ext)
