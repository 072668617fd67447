"""Loaders for the driver-generated TPC-H-ish parquet tables.

Tables (one parquet each, see /root/repo/TESTDATA.md): region nation
customer supplier part orders lineitem events documents embeddings.
"""

from __future__ import annotations

import os
import posixpath

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Inferred-SCHEMA cache: path -> (file stats, schema-affecting confs,
# StructType). Schema inference is metadata, not data — but every bare
# ``spark.read.parquet`` construction runs a real 1-task footer-read job
# (~0.1 s locally; one object-store GET per query at scale), and the
# bench constructs each table DataFrame on every run of every query.
# Passing the cached schema via ``.schema(...)`` skips exactly that job
# and nothing else: an explicit schema equal to the inferred one is
# semantically identical (guide §1.2 — don't recompute what is already
# known). Keyed on the file's (path, size, mtime) stats so an
# in-session corpus regeneration re-infers immediately (no TTL), plus
# the two confs that change what a given parquet file infers AS
# (nanosAsLong, inferTimestampNTZ) — sessions that could not set them
# (CANNOT_MODIFY_CONFIG) must not be served another session's reading.
# One entry per (path, confs): replaced in place on regeneration.
_SCHEMA_CACHE: dict[tuple, tuple] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    from dbt_on_snowflake_spark.engine.fs import fs_file_stats

    try:
        stats = repr(fs_file_stats(spark, path))
        confs = (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
            spark.conf.get(
                "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
            ),
        )
    except Exception:
        return spark.read.parquet(path)
    hit = _SCHEMA_CACHE.get((path, confs))
    if hit is not None and hit[0] == stats:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[(path, confs)] = (stats, df.schema)
    return df


def parquet_schema(spark: SparkSession, path: str):
    """The RAW inferred schema of a parquet path through the schema
    cache — for readStream schema peeks, which otherwise run the same
    1-task footer job per call that ``_read_parquet`` exists to skip
    (streaming sources require an explicit schema, so every streaming
    query paid it)."""
    return _read_parquet(spark, path).schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Column pruning + predicate pushdown reach
    the parquet scan because this is a plain declarative read (an
    explicit schema only skips footer inference; pushdown/pruning are
    unchanged).

    events.ts is parquet TIMESTAMP(NANOS), which Spark reads as a long
    (``spark.sql.legacy.parquet.nanosAsLong``); convert to a microsecond
    timestamp exactly like DuckDB does (integer truncation)."""
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # Fallback when the session was built without our conf (e.g. a
            # driver-owned SparkSession). A bare NTZ -> LTZ cast interprets
            # the wall clock in the *session* zone, shifting epochs by the
            # local offset relative to DuckDB's naive-as-UTC oracle on any
            # non-UTC session; from_utc_timestamp undoes that same-zone
            # shift, so epoch == wall-as-UTC under every session zone.
            df = df.withColumn(
                "ts",
                F.expr(
                    "from_utc_timestamp(cast(ts as timestamp),"
                    " current_timezone())"
                ),
            )
    return df


# fan_out_scan's split-count probe (df.rdd.getNumPartitions) forces a
# full plan->RDD translation per call (~0.1 s of driver time at bench
# granularity, guide §1.2). The count is a pure function of (file
# listing, maxPartitionBytes, cores), so callers that read a known
# parquet path pass it as ``key_path`` and the probe is memoized on the
# same change-detection stats the schema cache uses — a regenerated
# file re-probes immediately.
_FANOUT_CACHE: dict[tuple, int] = {}


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Bounded control-plane rows (trained cells/codebook entries, BPE
    merge tables — K rows of model-sized data) as a SINGLE-slice local
    DataFrame. The default ``createDataFrame(list)`` parallelizes even
    a 16-row list over ``defaultParallelism`` slices, so every write of
    a tiny cells/codebook table emitted ~32 near-empty files and every
    broadcast/collect of one paid ~32 tasks / ~32 footer reads; one
    slice -> one task and one file (guide §6 file layout; measured
    0.76 s -> 0.33 s per tiny saveAsTable locally). Row content and
    order are unchanged — identical rows, identical schema."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def observed_row(obs, recompute):
    """The CollectMetrics row of a completed write action, or
    ``recompute()`` when the observation never materialized: a write
    over an EMPTY relation can schedule zero tasks, so no task posts
    metrics and ``Observation.get`` dies on the missing row (a JVM-side
    assertion) — the degenerate-corpus case the empty-input parity
    sweep exercises. The fallback re-derives the same aggregate from
    the just-written table, which is empty exactly when this path
    triggers, so the extra job scans nothing; real builds never take
    it. Any OTHER obs.get failure (py4j hiccup, listener loss) also
    lands here by necessity — it is logged so a recompute-heavy
    fallback on a non-empty build is visible, not silent (review pass
    r17 #3)."""
    try:
        return obs.get
    except Exception as ex:
        import logging

        logging.getLogger(__name__).warning(
            "observe metrics unavailable (%s: %s) — falling back to a "
            "table recompute (expected only for zero-task/empty writes)",
            type(ex).__name__,
            ex,
        )
        return recompute()


def fan_out_scan(
    spark: SparkSession, df: DataFrame, key_path: str | None = None
) -> DataFrame:
    """Round-robin repartition a scan ONLY when it has fewer splits than
    cores. The local testdata parquet files are single-row-group, so the
    scan yields one partition and every narrow transform downstream
    (shingling, hashing) serializes onto one core. On a cluster reading
    100 TB the scan has thousands of splits, this predicate is false,
    and the function is an identity — the scale-optimal plan (no extra
    shuffle of raw rows) is untouched. Used by CPU-dense per-row
    operators (minhash/jaccard shingling) where map-side work dominates
    the row volume."""
    p = spark.sparkContext.defaultParallelism
    key = None
    if key_path is not None:
        from dbt_on_snowflake_spark.engine.fs import fs_file_stats

        try:
            key = (
                repr(fs_file_stats(spark, key_path)),
                spark.conf.get("spark.sql.files.maxPartitionBytes", ""),
                p,
            )
        except Exception:
            key = None
    n = _FANOUT_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _FANOUT_CACHE[key] = n
    return df.repartition(p) if n < p else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view (for Spark SQL queries)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


# fingerprint LIST cache: path -> (monotonic deadline, fp). The listing
# is a driver-side metadata call (no Spark job), but at object-store
# scale it is O(files-in-one-table) round trips PER SERVE — the r11
# verdict's "What's wrong #1". The TTL bounds both the cost (one LIST
# per path per TTL window, however high the serve QPS) and the
# staleness (a corpus regenerated at the same path is picked up within
# TTL seconds); in-session regeneration that must rotate IMMEDIATELY
# calls invalidate_corpus_fingerprints(). TTL 0 disables caching
# (every call lists — the pre-r12 behavior).
FP_TTL_S = float(os.environ.get("SPARK_GRAFT_FP_TTL", "60"))
_FP_CACHE: dict[str, tuple[float, str]] = {}


def invalidate_corpus_fingerprints(path: str | None = None) -> None:
    """Drop the cached fingerprint for ``path`` (a corpus parquet file
    path) or, with no argument, for every path — call after
    regenerating a corpus in-session so the very next serve re-lists
    and rotates its index suffix instead of waiting out the TTL."""
    if path is None:
        _FP_CACHE.clear()
    else:
        _FP_CACHE.pop(path, None)


def corpus_fingerprint(
    spark: SparkSession, sf_dir: str, name: str = "embeddings"
) -> str:
    """8-hex fingerprint of one corpus table's data files — (path, size,
    mtime) over the parquet listing, a driver-side metadata call, no
    Spark job. Build-once index suffixes key on it so a corpus
    REGENERATED at the same path triggers a rebuild instead of silently
    serving stale index results (r10 advice, similarity.py:2323).
    The listing stays deterministic across sessions (same files =>
    same suffix, so a fresh session re-attaches the same tables).

    Steady-state serves hit the TTL-bounded session cache above instead
    of re-listing per call; the staleness window is FP_TTL_S seconds,
    or zero after an explicit ``invalidate_corpus_fingerprints``."""
    import hashlib
    import time

    from dbt_on_snowflake_spark.engine.fs import fs_file_stats

    path = os.path.join(sf_dir, f"{name}.parquet")
    now = time.monotonic()
    hit = _FP_CACHE.get(path)
    if hit is not None and now < hit[0]:
        return hit[1]
    stats = fs_file_stats(spark, path)
    fp = hashlib.md5(repr(stats).encode()).hexdigest()[:8]
    if FP_TTL_S > 0:
        _FP_CACHE[path] = (now + FP_TTL_S, fp)
    return fp


def index_suffix(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    corpus_table: str,
    algo: str = "",
) -> str:
    """``<path8>_<fp8>`` — the shared build-once index-table suffix:
    the first half identifies the (tag, corpus path) family so
    superseded fingerprints are FINDABLE for GC, the second half is the
    corpus fingerprint so regeneration rotates the suffix.

    ``algo``: an algorithm-version token folded into the FINGERPRINT
    half (the family half must stay stable so the GC sweep can find
    old-version tables). Bump it when the BUILD ALGORITHM changes — a
    persistent warehouse would otherwise keep serving a pre-change
    index forever, since the tableExists probe passes and the drift
    gate compares the family against its own self-consistent baseline
    (r15 review finding 1: the Lloyd codebook upgrade would have left
    pre-r15 label-mean codes serving under every updated oracle)."""
    import hashlib

    path8 = hashlib.md5(f"{tag}:{sf_dir}".encode()).hexdigest()[:8]
    fp = corpus_fingerprint(spark, sf_dir, corpus_table)
    if algo:
        fp = hashlib.md5(f"{fp}:{algo}".encode()).hexdigest()[:8]
    return f"{path8}_{fp}"


def ensure_index_tables(
    spark: SparkSession,
    *,
    tables: tuple[str, ...],
    job_group: str,
    build,
    gc_prefixes: tuple[str, ...] | None = None,
    gc_suffix: str | None = None,
) -> None:
    """The build-once scaffold every persisted index family shares
    (r11 review: the probe / job-group / GC / build pattern was
    triplicated across ensure_ann_index / ensure_pq_index /
    ensure_text_index). Probes EVERY table of the family — a crashed
    compaction swap can drop one sibling while the others survive, and
    a partial probe would leave the serves throwing
    TABLE_OR_VIEW_NOT_FOUND until the next maintenance sweep; the
    builds all write mode("overwrite"), so a partial rebuild replaces
    the survivors. GC of superseded-fingerprint siblings and the build
    itself run under a dedicated job group so bench stage counts show
    the serve path only (the build schedules real Spark jobs; the GC's
    catalog listing goes through ``engine.catalog`` and schedules
    none)."""
    if all(spark.catalog.tableExists(t) for t in tables):
        return
    sc = spark.sparkContext
    caller_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(f"index-build:{job_group}", "index once")
    try:
        if gc_prefixes and gc_suffix:
            gc_superseded_index_tables(spark, gc_prefixes, gc_suffix)
        build()
    finally:
        sc.setJobGroup(caller_group, "serve")


def family_half(suffix: str) -> str:
    """The fingerprint-independent family half (``path8``) of an
    ``index_suffix`` value — the ONE place the ``<path8>_<fp8>`` format
    is split, shared by the GC's superseded-match and the reindex
    sweep's filter-relevance stem so the two cannot diverge if the
    suffix format ever grows a component."""
    return suffix.split("_", 1)[0]


def gc_superseded_index_tables(
    spark: SparkSession, prefixes: tuple[str, ...], suffix: str
) -> list[str]:
    """Reclaim index tables of the SAME family (prefix + path8) whose
    fingerprint differs from the active suffix — each corpus
    regeneration would otherwise leak a full-size index copy forever
    (r11 review). Two sweeps, because the catalog alone cannot see
    everything (r11 review, second pass):

    - catalog: DROP matching tables registered in ANY state (managed
      or re-attached EXTERNAL — for those DROP removes only metadata,
      the dir falls to the next sweep);
    - warehouse dirs: a fresh session's in-memory catalog has
      forgotten a previous session's tables, but their data dirs
      persist under the warehouse root by table name — delete matching
      dirs directly (Hadoop FS, object-store correct).

    Pre-fingerprint names (`<prefix><path8>` exactly, no fingerprint
    half — the r10 scheme, whose path hash equals today's path8) are
    swept too, so upgrading under a persistent warehouse does not
    strand the old-format copies. Runs inside the ensure_* build
    branch only (builds are rare); returns what it reclaimed."""
    from dbt_on_snowflake_spark.engine.fs import fs_delete, fs_list

    path8 = family_half(suffix)

    def superseded(name: str) -> bool:
        for p in prefixes:
            if name == f"{p}{path8}" or (
                name.startswith(f"{p}{path8}_")
                and not name.endswith(suffix)
            ):
                return True
        return False

    from dbt_on_snowflake_spark.engine.index_maintenance import (
        _database_location,
        table_location,
    )

    # EVERY database, not just the current one (r11 review, third
    # pass — the maintenance sweep's posture): a current-db-only
    # catalog pass combined with a root-level dir sweep could delete a
    # default-database table's data dir while its catalog entry
    # survives, and superseded dirs under <db>.db/ would never be
    # reclaimed. Safety model (r11 review, fourth-sixth passes):
    # FAIL CLOSED — the dir sweep runs only when every database's
    # registrations AND every matched table's location were readable;
    # any metastore hiccup means some registered table's data could be
    # mistaken for an orphan dir (a dangling entry silently reads 0
    # rows forever), so the disk pass is skipped entirely and the next
    # build retries. A failed DROP leaves its (known) location in
    # `protected`, honored prefix-aware by the sweep. Temp/catalog
    # views skipped; identifiers backtick-quoted; foreign EXTERNAL
    # tables (location outside the warehouse — a name collision,
    # someone else's data) left alone; the sweep covers ONLY
    # warehouse-controlled roots (a database created with an outside
    # LOCATION may hold foreign data, so forgotten superseded dirs
    # there are conservatively left to its owner). Paths are
    # scheme+slash normalized ('file:///x' == 'file:/x' == '/x') and
    # reclaim records are deduped on the normalized path, so a catalog
    # drop plus its leftover-dir delete is ONE record.
    from dbt_on_snowflake_spark.engine.catalog import (
        list_databases,
        list_tables,
    )
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        _strip_scheme,
        _under_warehouse,
    )

    def _norm(p: str) -> str:
        return _strip_scheme(p).rstrip("/")

    dropped: list[str] = []
    seen_paths: set[str] = set()
    seen_names: set[str] = set()
    protected: set[str] = set()
    sweep_ok = True
    current = spark.catalog.currentDatabase()
    wh_conf = spark.conf.get("spark.sql.warehouse.dir")
    wh_norm = _norm(wh_conf)
    roots: dict[str, str] = {wh_norm: wh_conf}
    for db in sorted(list_databases(spark)):
        try:
            loc = _database_location(spark, f"`{db}`")
            tables = list_tables(spark, db)
        except Exception:  # noqa: BLE001 — unknown registrations:
            sweep_ok = False  # reclaim nothing on disk this run
            continue
        loc_norm = _norm(loc)
        if loc_norm == wh_norm or loc_norm.startswith(wh_norm + "/"):
            roots.setdefault(loc_norm, loc)
        for t in tables:
            if t.is_temporary or not superseded(t.name):
                continue
            if t.table_type not in ("MANAGED", "EXTERNAL"):
                continue
            qual = f"`{db}`.`{t.name}`"
            try:
                tloc = _norm(table_location(spark, qual))
            except Exception:  # noqa: BLE001 — location unreadable
                tloc = None
            if t.table_type == "EXTERNAL" and (
                tloc is None or not _under_warehouse(spark, tloc)
            ):
                # foreign (or unverifiable) external: leave the entry;
                # an unverifiable one could own a dir under our roots
                if tloc is None:
                    sweep_ok = False
                continue
            # a MANAGED table with an unreadable location is still
            # droppable — the drop removes its own data, so liveness
            # survives a persistently pathless entry (r11 review)
            try:
                spark.sql(f"DROP TABLE IF EXISTS {qual}")
            except Exception:  # noqa: BLE001 — still registered:
                if tloc is None:
                    sweep_ok = False  # can't protect what we can't find
                else:
                    protected.add(tloc)  # shield from the sweep
                continue
            entry = t.name if db == current else f"{db}.{t.name}"
            if (tloc is None or tloc not in seen_paths) and (
                entry not in seen_names
            ):
                if tloc is not None:
                    seen_paths.add(tloc)
                seen_names.add(entry)
                dropped.append(entry)
    if not sweep_ok:
        return dropped
    for root_norm, root in sorted(roots.items()):
        for d in fs_list(spark, root):
            if not superseded(d):
                continue
            dpath = posixpath.join(root_norm, d)
            if any(
                p == dpath or p.startswith(dpath + "/")
                for p in protected
            ):
                continue
            fs_delete(spark, posixpath.join(root, d))
            if dpath not in seen_paths and d not in seen_names:
                seen_paths.add(dpath)
                seen_names.add(d)
                dropped.append(d)
    return dropped
