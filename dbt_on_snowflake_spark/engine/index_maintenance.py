"""Small-file compaction for the persisted INDEX tables.

The serving indexes (BM25 postings/doclen — ``textops.build_text_index``,
ANN assignments — ``similarity.build_ann_index``, PQ codes —
``similarity.build_pq_index``, the minhash band index — ``dedup``) are
Spark-managed tables, deliberately OUTSIDE the engine's versioned table
format: their maintenance path is per-batch ``.mode("append")`` growth
(``text_index_append`` for postings/doclen, ``ann_index_append`` for
the assignments, ``pq_index_append`` for the PQ codes against the
frozen codebook, streaming ingest via ``foreachBatch``),
and the versioned format publishes whole immutable
data dirs — an append there would rewrite the table. The cost of that
choice is the classic streaming-ingest pathology: every micro-batch adds
~1 file per touched partition, so after N batches a K-partition index
carries up to N x K files and the serve path's pruned reads degrade into
many-small-file scans. The ``compact`` CLI's versioned-table sweep
explicitly skips these (no ``_v`` manifest dir); this module is their
counterpart — ``compact --indexes`` runs both.

Rewrite protocol (managed tables have no manifest to swap, so this is a
rename swap, not an atomic commit):

1. heal any ``<name>__compacting`` leftover from a crashed attempt;
2. write the compacted layout to ``<name>__compacting`` (one file per
   partition dir via repartition on the partition columns; ~128 MB
   files for unpartitioned tables);
3. re-list the source's data files: if an append landed while the
   compacted snapshot was being written, ABORT (drop the tmp) and let
   the next sweep retry — the snapshot no longer covers the table;
4. ``DROP TABLE <name>`` (for an EXTERNAL attached index, also delete
   the old location the drop leaves behind); ``ALTER TABLE
   <name>__compacting RENAME TO <name>`` (the catalog moves the dir);
5. ``MSCK REPAIR`` + ``refreshTable`` — the rename leaves per-partition
   catalog locations and the session's file-listing cache pointing at
   the old path; without both, reads silently return 0 rows.

Crash window: a failure between (4)'s drop and rename loses the table's
catalog entry but not the data (it sits in ``<name>__compacting``). That
is acceptable for THESE tables only because every index is a derived
artifact with a rebuild path (``ensure_text_index`` /
``ensure_ann_index`` / ``ensure_pq_index``, each probing EVERY table of
its index family — a crashed swap can drop one table of a multi-table
index while its siblings survive): the
next serve rebuilds from the corpus, and step (1) heals the leftover
dir on the following sweep. The step-(3) recheck shrinks the
lost-append window from the whole rewrite to the instants between
recheck and drop — the same TOCTOU posture as ``table_format.vacuum``'s
delete-time recheck; a genuinely concurrent continuous writer should
schedule compaction through the same ``tasks.yml`` serialization as its
ingest. Durable-of-record tables get the versioned format's manifest
commit instead — never this protocol.

Results are bit-identical by construction: compaction only re-buckets
rows into fewer files, and every index consumer aggregates or joins
(order-independent); ``tests/test_index_maintenance.py`` pins
serve-result equality across a streaming-grown-then-compacted index.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024


def table_location(spark: SparkSession, name: str) -> str:
    """The table's data directory, resolved from the catalog (works for
    any warehouse scheme — file://, s3a://, ...)."""
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if row.col_name == "Location":
            return row.data_type
    raise ValueError(f"no location for table {name}")


def _is_bucketed(spark: SparkSession, name: str) -> bool:
    return any(
        row.col_name == "Num Buckets"
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    )


def _bucket_spec(
    spark: SparkSession, name: str
) -> tuple[int, list[str], list[str]] | None:
    """(num_buckets, bucket_cols, sort_cols) from the catalog, or None
    for an unbucketed table — what a rewrite must reproduce so the
    bucket-trusting zero-shuffle join plans survive the swap."""
    # bounded collect: DESCRIBE returns a screenful of info rows
    rows = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    }
    if "Num Buckets" not in rows:
        return None

    def cols(key: str) -> list[str]:
        return [
            c.strip().strip("`")
            for c in rows.get(key, "").strip("[]").split(",")
            if c.strip()
        ]

    return int(rows["Num Buckets"]), cols("Bucket Columns"), cols(
        "Sort Columns"
    )


def _strip_scheme(path: str) -> str:
    """Normalize a local-FS URI for path comparison: drop the file:
    scheme AND any authority, collapsing the equivalent spellings
    'file:/x' / 'file:///x' / 'file://localhost/x' to '/x' (r11
    review: comparing a 'file:///...'-configured warehouse against
    Hadoop's 'file:/...' rendering silently disabled every
    under-warehouse check). Non-file schemes (s3a://...) pass through
    untouched — both comparison sides render consistently there."""
    import re

    return re.sub(r"^file:(//[^/]*)?", "", path)


def _under_warehouse(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` sits under the session warehouse root — THE
    shared guard for every cleanup that may delete a directory (the
    foreign-location convention: a dir outside the warehouse is someone
    else's data). One helper, not per-site copies: the r11 review found
    a silent divergence in exactly this comparison (file:/// vs file:/
    rendering), and a normalization fix must land everywhere at once."""
    wh = _strip_scheme(spark.conf.get("spark.sql.warehouse.dir")).rstrip(
        "/"
    )
    return _strip_scheme(path).rstrip("/").startswith(wh + "/")


def _database_location(spark: SparkSession, db: str) -> str:
    # bounded collect: DESCRIBE DATABASE returns a handful of info rows
    for row in spark.sql(f"DESCRIBE DATABASE {db}").collect():
        if row.info_name in ("Location", "Catalog Location"):
            return row.info_value
    raise ValueError(f"no location for database {db}")


def _swap_rewrite(
    spark: SparkSession,
    name: str,
    transform,
    *,
    skip_if_compact: bool,
    target_bytes: int = TARGET_FILE_BYTES,
) -> tuple[int, int] | None:
    """The shared heal -> snapshot -> rewrite -> recheck -> drop-rename
    core behind ``compact_index_table`` (identity transform, skips
    already-compact tables) and ``rewrite_index_table`` (row-dropping
    transforms — the tombstone fold — which must rewrite regardless of
    file counts). Returns ``(files_before, files_after)``; ``None``
    when skipped (already compact) or aborted (an append raced the
    rewrite)."""
    from dbt_on_snowflake_spark.engine.catalog import partition_columns
    from dbt_on_snowflake_spark.engine.fs import (
        _file_entries,
        fs_count_files,
        fs_delete,
        fs_exists,
    )

    loc = table_location(spark, name)
    # Qualify the tmp with the OWNER's database (r10 advice,
    # index_maintenance.py:143): an unqualified tmp for a table in a
    # non-default database would stage in the CURRENT database's
    # namespace and heal the wrong directory. The tmp's managed dir is
    # then a sibling of the owner's dir (`<db location>/<base>__compacting`),
    # which is what the heal delete below and the dirname-based cleanup
    # on abort assume.
    if "." in name:
        db, base = name.rsplit(".", 1)
    else:
        db, base = spark.catalog.currentDatabase(), name
    tmp_base = f"{base}__compacting"
    tmp = f"{db}.{tmp_base}"
    # heal a crashed prior attempt FIRST — even when this table needs no
    # rewrite (e.g. it was rebuilt compact from the corpus after a crash
    # between drop and rename), the stale full-size tmp copy must go:
    # the catalog may still carry the tmp table (same session or
    # persistent metastore) or only its directory may remain (the
    # in-memory catalog forgets tables across sessions but their dirs
    # persist, and saveAsTable refuses a non-empty managed location).
    # TWO candidate dirs (r11 review): the managed tmp lands under the
    # owner DATABASE's location, which for an EXTERNAL index attached
    # at a nested warehouse path is NOT dirname(loc) — healing only the
    # sibling path would leave saveAsTable failing on every sweep.
    db_loc = _database_location(spark, db)
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    for parent in {posixpath.dirname(loc), db_loc}:
        fs_delete(spark, posixpath.join(parent, tmp_base))

    parts = partition_columns(spark, name)
    # ONE traversal, two views (r12 review passes 6/7): the RACE guard
    # (snapshot/recheck equality) covers committed AND staged files —
    # an in-flight staged write must be visible or a batch committing
    # between recheck and drop is silently destroyed — while the
    # already-compact arithmetic and the files_before metric count the
    # COMMITTED subset only, so an in-flight writer's staging can't
    # force a futile rewrite of an already-compact table (the skip is
    # also what tolerates that writer: no drop, its commit lands)
    entries = _file_entries(spark, loc, ".parquet")
    committed = sorted(f for f, _s, _m, h in entries if not h)
    committed_bytes = sum(sz for _f, sz, _m, h in entries if not h)
    snapshot = {f for f, _s, _m, _h in entries}
    # refresh AFTER the snapshot, BEFORE the table read: the rewrite
    # must see at least every file in the snapshot. Without it the read
    # goes through the session's cached file index, which can be stale
    # when a DIFFERENT session/process appended since this session last
    # listed the table — the raw-FS recheck below would then compare
    # two listings that both contain the new file while the tmp
    # snapshot silently misses its rows. (Snapshot-then-refresh, not
    # the reverse: a file landing between the two now triggers a
    # conservative abort instead of a silent drop.)
    spark.catalog.refreshTable(name)
    before = len(committed)
    if parts:
        # leaf dirs holding the committed files — NOT top-level "key="
        # entries, which undercount multi-column partition layouts and
        # would make `already` never true (a full rewrite + non-atomic
        # swap on every sweep, never converging)
        n_dirs = len({posixpath.dirname(f) for f in committed})
        already = before <= n_dirs
    else:
        # committed bytes, from the same traversal: fs_size would count
        # staging bytes, inflating the threshold (and the rewrite's
        # file count) whenever a crashed writer's staging lingers
        n_files = max(1, -(-committed_bytes // target_bytes))
        already = before <= n_files
    if skip_if_compact and already:
        return None

    src = spark.table(name)
    # re-select the source column order: a join-based transform (the
    # tombstone fold's anti-join) moves its key to the front, and the
    # swap must hand back a schema-identical table
    df = transform(src).select(src.columns)
    bucket = _bucket_spec(spark, name)
    if bucket is not None:
        # reproduce the bucket layout exactly (count, columns, in-bucket
        # sort) so the bucket-trusting zero-shuffle probe joins survive
        # the swap. Unpartitioned: repartition on the bucket hash so
        # each task holds one bucket and the rewrite emits one file per
        # bucket; partitioned+bucketed (the pruned band-index layout):
        # cluster on the partition dirs instead — bucket splitting then
        # happens within each dir's single writer task (~n_buckets
        # files per dir, the same shape a clustered build emits).
        n_b, b_cols, s_cols = bucket
        clustered = (
            df.repartition(*parts)
            if parts
            else df.repartition(n_b, *b_cols)
        )
        writer = (
            clustered.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_b, *b_cols)
        )
        if parts:
            writer = writer.partitionBy(*parts)
        if s_cols:
            writer = writer.sortBy(*s_cols)
    elif parts:
        writer = (
            df.repartition(*parts)
            .write.mode("overwrite")
            .partitionBy(*parts)
        )
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.saveAsTable(tmp)
    recheck = {f for f, _s, _m, _h in _file_entries(spark, loc, ".parquet")}
    if recheck != snapshot:
        # an ingest batch landed while the snapshot was being written;
        # installing the snapshot would silently drop those rows —
        # abort and let the next sweep retry over the grown table
        spark.sql(f"DROP TABLE {tmp}")
        for parent in {posixpath.dirname(loc), db_loc}:
            fs_delete(spark, posixpath.join(parent, tmp_base))
        return None
    # carry underscore metadata sidecars (e.g. the PQ drift baseline
    # _qstats.json) into the replacement dir — they are invisible to
    # table reads, so the rewrite's data is unaffected, but dropping
    # the old dir would silently discard them. A `.json.new` twin
    # comes ONLY when its canonical is absent (a crashed
    # fs_replace_atomic between delete and rename — the twin IS the
    # sidecar, complete by the replace protocol, and dropping it would
    # lose the baseline/spec). A twin ALONGSIDE a live canonical is a
    # superseded crash leftover: carrying it would give it a fresh
    # mtime (FileUtil.copy does not preserve timestamps) and re-arm
    # the REPLACE_STALE_MS contention gate on every sweep, spuriously
    # blocking the next sidecar rewrite for 10 minutes after each
    # nightly compaction (r14 review pass 2, finding 3).
    from dbt_on_snowflake_spark.engine.fs import (
        REPLACE_NEW_SUFFIX,
        fs_copy,
        fs_list,
    )

    tmp_loc = table_location(spark, tmp)
    names = set(fs_list(spark, loc))
    for f in sorted(names):
        if not (f.startswith("_") and f.endswith((".json", ".json.new"))):
            continue
        dest = f
        if f.endswith(REPLACE_NEW_SUFFIX):
            if f.removesuffix(REPLACE_NEW_SUFFIX) in names:
                continue  # superseded twin; the canonical travels
            # orphan twin (canonical absent): complete by the replace
            # protocol, so HEAL it to the canonical name at carry time
            # — copying it under the .new name would give it a fresh
            # mtime (FileUtil.copy drops timestamps) and re-arm the
            # REPLACE_STALE_MS contention gate for 10 minutes after
            # every sweep, even for a days-old crash (r14 review
            # pass 8, finding 2)
            dest = f.removesuffix(REPLACE_NEW_SUFFIX)
        fs_copy(
            spark,
            posixpath.join(loc, f),
            posixpath.join(tmp_loc, dest),
        )
    spark.sql(f"DROP TABLE {name}")
    if fs_exists(spark, loc):
        # EXTERNAL attached index (attach_pq_index & co. re-register
        # persisted dirs in a fresh session): DROP leaves the data dir,
        # which would collide with the rename target
        fs_delete(spark, loc)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
    if parts:
        # the rename keeps the OLD per-partition locations in the
        # catalog; recover them from the moved directory layout
        spark.sql(f"MSCK REPAIR TABLE {name}")
    spark.catalog.refreshTable(name)
    return before, fs_count_files(spark, table_location(spark, name))


def compact_index_table(
    spark: SparkSession,
    name: str,
    *,
    target_bytes: int = TARGET_FILE_BYTES,
) -> tuple[int, int] | None:
    """Compact one index table toward one file per partition dir (or
    ~``target_bytes`` files when unpartitioned). Returns
    ``(files_before, files_after)``, or ``None`` when skipped — already
    compact, bucketed (a blind rewrite would destroy the bucket-file
    naming the catalog scan relies on, same skip as the versioned
    ``compact``), or aborted because an append raced the rewrite."""
    if _is_bucketed(spark, name):
        return None
    return _swap_rewrite(
        spark,
        name,
        lambda df: df,
        skip_if_compact=True,
        target_bytes=target_bytes,
    )


def rewrite_index_table(
    spark: SparkSession, name: str, transform
) -> tuple[int, int] | None:
    """Rewrite one index table through ``transform`` (a DataFrame ->
    DataFrame row filter — the tombstone fold's anti-join) under the
    same heal/snapshot/recheck/drop-rename protocol as compaction,
    keeping the partition OR bucket layout (``_bucket_spec`` is
    reproduced exactly, so bucket-trusting zero-shuffle probes survive
    — unlike ``compact_index_table``, which skips bucketed tables
    because merging files adds nothing there). The rewrite also runs
    when the file layout is already compact: the point is dropping
    ROWS, not merging files. Returns ``(files_before, files_after)``;
    ``None`` when an append raced the rewrite (the caller must treat
    that as "this table still holds the tombstoned rows")."""
    return _swap_rewrite(spark, name, transform, skip_if_compact=False)


_IDEMPOTENT_MERGES = {"max", "min"}


def fold_update_log(
    spark: SparkSession, log_dir: str
) -> tuple[int, int] | None:
    """Fold a merge-on-read update log (``streaming.run_update_log``)
    to one row per key: read the current parquet segments, apply the
    merge the log's ``_merge.json`` sidecar declares, append the folded
    segment, then delete the segments that were read. Returns
    ``(files_before, files_after)``; ``None`` when the dir is not a
    self-describing log or is already folded.

    Crash-safe WITHOUT a commit protocol, because only idempotent
    merges (max/min — a non-listed agg is refused) are folded: a crash
    after the append leaves folded rows coexisting with the originals,
    and the reader's merge collapses the duplicates to the identical
    result; the next fold pass finishes the delete. Concurrent
    streaming appends are also safe — the fold touches only the
    segment snapshot it read, never files a batch lands mid-fold.
    A SUM-of-deltas log would double-count under both properties; such
    a log needs the versioned format's manifest commit, not this."""
    import json

    from dbt_on_snowflake_spark.engine.fs import (
        fs_delete,
        fs_exists,
        fs_list,
        fs_read,
    )

    spec_path = posixpath.join(log_dir, "_merge.json")
    if not fs_exists(spark, spec_path):
        return None
    spec = json.loads(fs_read(spark, spec_path).decode())
    bad = set(spec["merge"].values()) - _IDEMPOTENT_MERGES
    if bad:
        raise ValueError(
            f"update log {log_dir} declares non-idempotent merge(s) "
            f"{sorted(bad)}; folding would change the merged read"
        )
    snapshot = [
        f for f in fs_list(spark, log_dir) if f.endswith(".parquet")
    ]
    if len(snapshot) <= 1:
        return None
    df = spark.read.parquet(
        *[posixpath.join(log_dir, f) for f in snapshot]
    )
    if set(spec["keys"]) | set(spec["merge"]) != set(df.columns):
        raise ValueError(
            f"update log {log_dir}: sidecar columns "
            f"{sorted(set(spec['keys']) | set(spec['merge']))} do not "
            f"cover the log's {sorted(df.columns)}"
        )
    from pyspark.sql import functions as F

    folded = (
        df.groupBy(*spec["keys"])
        .agg(
            *[
                getattr(F, fn)(col).alias(col)
                for col, fn in spec["merge"].items()
            ]
        )
        .select(df.columns)
    )
    folded.write.mode("append").parquet(log_dir)
    for f in snapshot:
        fs_delete(spark, posixpath.join(log_dir, f))
    after = sum(
        1 for f in fs_list(spark, log_dir) if f.endswith(".parquet")
    )
    return len(snapshot), after


def fold_update_logs(
    spark: SparkSession,
) -> tuple[list[tuple[str, int, int]], list[tuple[str, str]]]:
    """Sweep the warehouse for self-describing update logs and fold
    each. Returns ``(folded, skipped)``: per-log ``(dir_name,
    files_before, files_after)`` and ``(dir_name, reason)`` — one bad
    log (non-idempotent sidecar, column mismatch, malformed json) is
    reported and skipped, never allowed to abort the rest of the
    maintenance sweep (the versioned compact's skip-with-reason
    posture)."""
    from dbt_on_snowflake_spark.engine.fs import fs_list

    wh = spark.conf.get("spark.sql.warehouse.dir")
    done: list[tuple[str, int, int]] = []
    skipped: list[tuple[str, str]] = []
    for d in fs_list(spark, wh):
        try:
            r = fold_update_log(spark, posixpath.join(wh, d))
        except Exception as exc:  # noqa: BLE001 — sweep must survive
            skipped.append((d, str(exc)))
            continue
        if r is not None:
            done.append((d, *r))
    return done, skipped


STAGING_MIN_AGE_MS = 24 * 3600 * 1000  # reclaim staging older than a day


# staging names writers leave behind on a crash: parquet/FOC creates
# exactly `_temporary`; dynamic-partition-overwrite and Hive-style
# writers append UUIDs (.spark-staging-<uuid>, .hive-staging_...), so
# those two match by prefix. ONLY these are ever reclaimed — the
# metadata sidecars this repo itself plants (_tombstones.json,
# _qstats.json, _merge.json, _v/) are files/dirs the sweep must never
# touch, and an unknown hidden name (even `_temporary_keep`) is
# conservatively someone else's.
_STAGING_EXACT = ("_temporary",)
_STAGING_PREFIXES = (".spark-staging", ".hive-staging")


def _is_staging_name(child: str) -> bool:
    return child in _STAGING_EXACT or child.startswith(_STAGING_PREFIXES)


def reclaim_abandoned_staging(
    spark: SparkSession, *, min_age_ms: int = STAGING_MIN_AGE_MS
) -> tuple[list[str], list[tuple[str, str]]]:
    """Delete abandoned staging dirs (``_STAGING_PREFIXES``) under
    warehouse table dirs — including tables of non-default databases
    (``<wh>/<db>.db/<table>/``) — when every file inside is older than
    ``min_age_ms`` (the leftovers of writers that crashed mid-job;
    FileOutputCommitter never cleaned up). Abandoned staging is not
    just waste: it blocks the tombstone fold's return-to-pristine drop
    and wedges a first-delete retry (both fail CLOSED on staged files
    by design — r12 review passes 6/7), so maintenance must eventually
    reclaim it. The age gate keeps a LIVE slow writer safe: its staged
    files carry recent mtimes, and an EMPTY staging dir (a writer's
    setupJob that has not emitted files yet) is aged by the dir's own
    mtime, closing the create-to-first-file window. Per-dir errors are
    reported, never allowed to abort the sweep. Returns
    ``(reclaimed, skipped)``."""
    import time

    from dbt_on_snowflake_spark.engine.catalog import list_databases
    from dbt_on_snowflake_spark.engine.fs import (
        _file_entries,
        fs_delete,
        fs_list,
        fs_mtime,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir")
    now_ms = int(time.time() * 1000)
    reclaimed: list[str] = []
    skipped: list[tuple[str, str]] = []

    # table-dir roots: the warehouse itself, every `<db>.db` child, AND
    # every catalog database whose LOCATION sits under the warehouse at
    # a non-`.db` path (CREATE DATABASE ... LOCATION '<wh>/custom' —
    # its tables live one level below a dir the name heuristic alone
    # would treat as a table). Listing errors are reported per root,
    # never allowed to abort the sweep (skip-with-reason convention).
    def _norm(p: str) -> str:
        return _strip_scheme(p).rstrip("/")

    # roots: the warehouse itself plus EVERY catalog database located
    # under it — default-layout `<db>.db` locations included, so their
    # staging is still swept on a run where the warehouse-root listing
    # itself fails (per-root independence); the normalized `expanded`
    # set below just skips re-listing a db dir the wh pass already
    # covered (r12 review passes 10/11)
    roots: list[tuple[str, bool]] = [(wh, True)]  # (path, is_wh_root)
    try:
        db_names = sorted(list_databases(spark))
    except Exception as exc:  # noqa: BLE001 — catalog hiccup:
        skipped.append(("<catalog>", str(exc)))  # wh root still swept
        db_names = []
    for db in db_names:
        try:
            loc = _database_location(spark, f"`{db}`")
        except Exception as exc:  # noqa: BLE001 — one bad db entry
            skipped.append((db, str(exc)))  # must not drop the rest
            continue
        if _under_warehouse(spark, loc):
            roots.append((loc, False))

    tdirs: list[tuple[str, str]] = []  # (root, relative table dir)
    seen: set[str] = set()
    expanded: set[str] = set()  # db dirs the wh pass already listed
    for root, is_wh_root in roots:
        if not is_wh_root and _norm(root) in expanded:
            continue  # covered by the wh pass — skip the repeat LIST
        try:
            children = sorted(fs_list(spark, root))
        except Exception as exc:  # noqa: BLE001 — sweep must survive
            skipped.append((root, str(exc)))
            continue
        for d in children:
            # the `<db>.db` expansion applies only under the WAREHOUSE
            # root — under a custom-LOCATION database root a child
            # named `*.db` is just a table dir (r12 review pass 10)
            if is_wh_root and d.endswith(".db"):
                try:
                    subs = sorted(fs_list(spark, posixpath.join(root, d)))
                except Exception as exc:  # noqa: BLE001
                    skipped.append((posixpath.join(root, d), str(exc)))
                    continue
                expanded.add(_norm(posixpath.join(root, d)))
                entries_ = [posixpath.join(d, t) for t in subs]
            else:
                entries_ = [d]
            for t in entries_:
                # normalized dedup: the conf and DESCRIBE renderings of
                # the same path can differ (file:/// vs file:/ — the
                # r11 normalization lesson) and must collapse here
                full = _norm(posixpath.join(root, t))
                if full not in seen:
                    seen.add(full)
                    tdirs.append((root, t))

    for root, tdir in tdirs:
        try:
            for child in sorted(fs_list(spark, posixpath.join(root, tdir))):
                if not _is_staging_name(child):
                    continue
                tmp = posixpath.join(root, tdir, child)
                # every file, any suffix
                entries = _file_entries(spark, tmp, "")
                if entries:
                    fresh = any(
                        now_ms - mtime < min_age_ms
                        for _f, _s, mtime, _h in entries
                    )
                else:
                    dm = fs_mtime(spark, tmp)
                    if dm is None:
                        continue  # vanished (live writer's job commit)
                    fresh = now_ms - dm < min_age_ms
                if fresh:
                    continue  # possibly a live writer — leave it
                fs_delete(spark, tmp)
                reclaimed.append(posixpath.join(tdir, child))
        except Exception as exc:  # noqa: BLE001 — sweep must survive
            skipped.append((tdir, str(exc)))
    return reclaimed, skipped


def compact_index_tables(
    spark: SparkSession,
) -> tuple[
    list[tuple[str, int, int]], list[tuple[str, str]], list[str]
]:
    """Sweep the catalog's index tables — MANAGED tables plus EXTERNAL
    tables whose location sits under the warehouse root (how
    ``attach_pq_index``/``attach_minhash_index`` re-register persisted
    index dirs in a fresh session; an external table pointing OUTSIDE
    the warehouse is someone else's data and is left alone). The
    versioned-format model tables are temp views, never catalog
    tables, so they are excluded by construction. Returns ``(done,
    skipped, resumed)`` — per-table errors are reported, not raised
    (one broken table must not abort the sweep), and ``resumed`` names
    tables whose crashed drop-rename swap was completed from the
    surviving ``__compacting`` state."""
    done: list[tuple[str, int, int]] = []
    skipped: list[tuple[str, str]] = []
    resumed: list[str] = []
    # EVERY database, not just the current one (r10 advice,
    # index_maintenance.py:143): an index table in a non-default
    # database gets the same maintenance, with its tmp staged in its
    # OWN namespace (compact_index_table qualifies it). Names report
    # bare in the current database, db-qualified elsewhere.
    from dbt_on_snowflake_spark.engine.catalog import (
        list_databases,
        list_tables,
        partition_columns,
    )

    current = spark.catalog.currentDatabase()
    for db in sorted(list_databases(spark)):
        for t in list_tables(spark, db):
            if t.is_temporary:
                continue
            if "_tombstones_" in t.name:
                # tombstone tables (engine.index_delete) carry a
                # _tombstones.json sidecar INSIDE their data dir that
                # the drop-rename swap would silently discard, making
                # the family unfoldable forever; they are tiny and the
                # fold truncates them, so compaction has nothing to add
                continue
            qual = t.name if db == current else f"{db}.{t.name}"
            if t.name.endswith("__compacting"):
                owner = qual[: -len("__compacting")]
                if not spark.catalog.tableExists(owner):
                    # a crash landed between DROP owner and RENAME tmp:
                    # the tmp table IS the complete compacted state —
                    # finish the swap instead of leaving it to a corpus
                    # rebuild
                    try:
                        spark.sql(f"ALTER TABLE {qual} RENAME TO {owner}")
                        if partition_columns(spark, owner):
                            spark.sql(f"MSCK REPAIR TABLE {owner}")
                        spark.catalog.refreshTable(owner)
                        resumed.append(owner)
                    except Exception as exc:  # noqa: BLE001
                        skipped.append((qual, str(exc)))
                continue
            try:
                if t.table_type == "EXTERNAL":
                    if not _under_warehouse(
                        spark, table_location(spark, qual)
                    ):
                        continue
                elif t.table_type != "MANAGED":
                    continue
                r = compact_index_table(spark, qual)
            except Exception as exc:  # noqa: BLE001 — sweep must survive
                skipped.append((qual, str(exc)))
                continue
            if r is not None:
                done.append((qual, *r))
    return done, skipped, resumed
