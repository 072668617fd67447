"""Catalog metadata without Spark jobs.

PySpark's ``Catalog.listDatabases`` / ``listTables`` / ``listColumns``
build a Dataset on the JVM side and iterate it with ``toLocalIterator``:
every call schedules real Spark jobs (one per partition) plus a py4j
round trip per row. A maintenance sweep that lists every database of an
already-compact catalog paid tens of jobs for metadata alone. The SQL
commands below return the same facts as local rows — a command's result
is a local relation, so collecting it launches no job.

- ``list_databases``: ``SHOW DATABASES``
- ``list_tables``: ``SHOW TABLE EXTENDED IN <db> LIKE '*'`` (name,
  temporary flag and the ``Type:`` line of its information block)
- ``partition_columns``: the ``# Partition Information`` block of
  ``DESCRIBE TABLE``

Each returns what the matching ``spark.catalog`` call reports
(``tests/test_catalog.py`` pins the equality): temp views appear under
every database, with no database and table type ``TEMPORARY``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class CatalogTable:
    name: str
    database: str | None  # None for a session temp view
    table_type: str  # MANAGED | EXTERNAL | VIEW | TEMPORARY
    is_temporary: bool


def _quote(ident: str) -> str:
    return "`" + ident.replace("`", "``") + "`"


def list_databases(spark: SparkSession) -> list[str]:
    """Database names of the current catalog."""
    return [r.namespace for r in spark.sql("SHOW DATABASES").collect()]


def list_tables(spark: SparkSession, db: str) -> list[CatalogTable]:
    """Tables and views of ``db`` plus the session's temp views, in
    ``spark.catalog.listTables(db)`` order."""
    out = []
    for r in spark.sql(
        f"SHOW TABLE EXTENDED IN {_quote(db)} LIKE '*'"
    ).collect():
        kind = next(
            (
                line[len("Type: "):]
                for line in r.information.splitlines()
                if line.startswith("Type: ")
            ),
            "",
        )
        out.append(
            CatalogTable(
                name=r.tableName,
                database=None if r.isTemporary else r.namespace,
                table_type="TEMPORARY" if r.isTemporary else kind,
                is_temporary=r.isTemporary,
            )
        )
    return out


def partition_columns(spark: SparkSession, name: str) -> list[str]:
    """Partition column names of table ``name`` (as written in SQL:
    bare, ``db.t`` or backquoted), in declaration order; ``[]`` for an
    unpartitioned table or a view."""
    rows = [r.col_name for r in spark.sql(f"DESCRIBE TABLE {name}").collect()]
    if "# Partition Information" not in rows:
        return []
    parts = []
    # the block is a "# col_name" header, then one row per column, up
    # to the blank row that ends it
    for col in rows[rows.index("# Partition Information") + 2 :]:
        if not col or col.startswith("#"):
            break
        parts.append(col)
    return parts
