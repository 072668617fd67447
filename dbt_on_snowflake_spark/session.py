"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are ``local[N]`` (one JVM); the confs below are chosen so the
same logical plans survive a 1000-executor cluster: AQE re-plans at runtime
(coalesces small shuffle partitions, converts to broadcast joins, splits
skewed partitions), timestamps are pinned to UTC for oracle comparability,
and Arrow is enabled for any Pandas-UDF path.

JIT policy: the session JVM compiles with C1 only
(``-XX:TieredStopAtLevel=1``). The engine's sessions are short-lived —
a dbt run, its source tests, an index build or a bench pass — and in a
fresh JVM most of the CPU goes to C2, HotSpot's optimising compiler,
compiling Spark's own code and the generated classes rather than to the
queries. C1 compiles quickly and stops there; the price is slower hot
code, so long executor-heavy sessions can lose wall time (SCALING.md,
"JIT policy"). Stopping at C1 also shrinks the default code cache from
240 MB to 48 MB, where the sweeper evicts compiled code that C1 then
compiles again, so ``-XX:ReservedCodeCacheSize=240m`` restores the
tiered default. Results do not depend on the compiler: since JDK 17 all
floating-point arithmetic is strict (JEP 306), so C1 and C2 code give
bit-identical values. The flags go in ``spark.driver.extraJavaOptions``
only: in local mode the driver JVM is also the executor, so that one
string covers the whole engine; cluster executors take
``spark.executor.extraJavaOptions``, which is left at its default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt_on_snowflake_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to ``max(cpus, 8)`` — at cluster scale this knob (or AQE's
    ``advisoryPartitionSizeInBytes``) sizes partitions to fit executor
    memory; the default 200 is wrong in both directions.

    The driver JVM starts with the module's JIT policy (C1 only, 240 MB
    code cache) and the Derby home next to the warehouse. A session
    that already exists is returned as it is: JVM options apply only to
    the JVM this call launches.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalesce / broadcast-conversion / skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Parquet scans: vectorized reader + pushdown are on by default;
        # maxPartitionBytes keeps scan tasks memory-bounded at large SF.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # The testdata events table stores TIMESTAMP(NANOS) which the Spark
        # reader rejects; read as long and convert in testdata.table().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata timestamps are parquet TIMESTAMP(MICROS,
        # isAdjustedToUTC=false); by default Spark 4 infers TIMESTAMP_NTZ,
        # which cannot be cast to numeric (epoch math in sessionize etc.)
        # and diverges from DuckDB's naive-as-UTC reading. Read them as
        # TIMESTAMP_LTZ — with the UTC session zone above the values are
        # bit-identical to the oracle's.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # warehouse + derby metastore live OUT of the repo cwd and as a
        # CONSISTENT pair (a warehouse without its metastore causes
        # LOCATION_ALREADY_EXISTS on overwrite). Stable default so managed
        # tables persist across CLI invocations (incremental models);
        # tests point SPARK_WAREHOUSE_DIR at per-session temp dirs because
        # derby allows only one process at a time.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            # C1-only JIT with the tiered-default code cache: see the
            # module docstring
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
            "-Dderby.system.home="
            + os.environ.get(
                "SPARK_DERBY_DIR",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_warehouse"),
            ),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
