"""DELETE propagation for the persisted serving indexes (tombstones).

Every grown index family (BM25 postings/doclen — ``textops``, IVF
assignments and PQ codes — ``similarity``, the minhash band index —
``dedup``) has build / append / streaming-ingest / compaction paths, but
until r12 was append-ONLY: a document deleted or replaced upstream lived
in the serving indexes until a full fingerprint-rotation rebuild (r11
verdict, Next #2). This module adds the deletion-vector counterpart the
lakehouse formats use (Delta/Iceberg merge-on-read deletes):

- ``index_delete`` appends the deleted ids to a small per-family
  TOMBSTONE table (created on first delete, with a self-describing
  ``_tombstones.json`` sidecar naming the family's member tables — the
  ``fold_update_log`` ``_merge.json`` convention). The delete is O(ids):
  no index rewrite, no corpus read.
- Serve paths gate their index reads through ``live_rows`` — a broadcast
  anti-join against the tombstone ids. When the family has never seen a
  delete the table does not exist and the gate is an exact no-op (the
  pristine serve plans are unchanged, plan-pinned); after a delete the
  serve pays one broadcast anti-join until the next fold. Tombstone
  volume between folds is bounded by the ingest discipline (delete
  batches are the same order as append batches), so the broadcast is
  small by construction — the posture of deletion vectors everywhere.
- ``fold_tombstones`` (swept by ``compact --indexes`` via
  ``fold_tombstone_families``) physically drops the tombstoned rows from
  every member table under the compaction module's heal/snapshot/
  recheck/drop-rename protocol, refreshes any declared derived stats,
  and then truncates exactly the tombstone FILES it read. Folding
  converges bit-exactly to a rebuild-without-those-rows: index rows are
  per-doc facts, so an anti-join leaves precisely the rows a filtered
  build would produce (pinned by ``tests/test_index_delete.py``).

Crash/concurrency posture — FAIL CLOSED, the delete-path design rule
from the r11 GC review: correctness never depends on the fold having
run. The tombstone append is the delete's only commit record; serves
anti-join whatever is in the table, and stats that a delete invalidates
(BM25 n_docs/avgdl) are computed LIVE from the gated rows whenever a
tombstone table exists, so a crash at ANY point between delete and fold
leaves every serve exact. The fold truncates tombstones only after
every member rewrite AND the stats refresh succeeded in the same sweep
(a partial fold leaves the tombstones in place — re-folding an already
anti-joined member is a no-op by idempotence); a member rewrite that
loses a race with a concurrent append aborts (snapshot recheck), again
leaving the tombstones; and the truncate deletes only the snapshot's
files, so a delete landing mid-fold survives to the next sweep.

Semantics: a tombstone marks "removed from the serving index ahead of
the corpus of record" (the GDPR-style propagation order: delete serves
NOW, rewrite storage at leisure). Ids are immutable identities —
re-ingesting a tombstoned id is an UPDATE, which the append paths'
idempotence probes do not express; model updates as delete + fold +
append, or append under a fresh id. A fingerprint-rotation rebuild
(``testdata.index_suffix``) starts a new family with no tombstones,
which is correct exactly because the rebuild reads the NEW corpus.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SIDECAR = "_tombstones.json"

# marker embedded in the fold's ingest-race abort message; the
# maintenance sweep keys its same-sweep retry on it (a dedicated
# constant, not a prose substring, so a rewording can't silently
# disable the retry)
RACED_FOLD = "an append raced the fold"


def _sidecar_path(spark: SparkSession, tombstones_table: str) -> str:
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        table_location,
    )

    return posixpath.join(
        table_location(spark, tombstones_table), SIDECAR
    )


def derive_tombstones_name(table: str, *, strip: str, prefix: str) -> str:
    """Derive a family's tombstone-table name from a member table,
    preserving any database qualifier: ``db.pq_codes_x`` ->
    ``db.pq_tombstones_x``. A naive ``removeprefix`` on the qualified
    name is a no-op, and the naive concatenation
    ``pq_tombstones_db.pq_codes_x`` parses as table ``pq_codes_x`` in
    database ``pq_tombstones_db`` — the delete would fail loudly there,
    but the gated serves would silently read UNGATED (r12 advice #4)."""
    db, dot, base = table.rpartition(".")
    return f"{db}{dot}{prefix}{base.removeprefix(strip)}"


def _managed_location(spark: SparkSession, table: str) -> str:
    """The path a managed table named ``table`` would live at, resolved
    through its (possibly implicit) database's location — the catalog
    cannot answer this for a table it has no entry for."""
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        _database_location,
    )

    if "." in table:
        db, base = table.rsplit(".", 1)
    else:
        db = spark.catalog.currentDatabase()
        base = table
    return posixpath.join(
        _database_location(spark, f"`{db}`"), base.lower()
    )


# ownership marker the index builders plant in every persisted index
# dir that has no self-describing sidecar of its own — the compaction
# swap carries _*.json sidecars, so it survives rewrites
ENGINE_MARK = "_spark_graft_index.json"
ENGINE_OWNER = "dbt_on_snowflake_spark"
ENGINE_MARK_BODY = json.dumps({"owner": ENGINE_OWNER}).encode() + b"\n"

# per-sidecar content proof: the JSON keys only this engine's writer
# produces. Outside the warehouse a file's NAME alone is not ownership
# — other tooling sharing a custom-LOCATION database dir could
# plausibly write a generically-named `_merge.json`/`_qstats.json`
# (r13 advice #1) — so the gate parses each candidate and requires
# the writer's full key signature (ENGINE_MARK additionally pins the
# owner VALUE). Keys per writer: the tombstone spec (`_write_sidecar`),
# the PQ drift baseline (`_observe_qerr`+`_write_qstats_sidecar`), the IVF drift baseline
# (`_write_ann_cstats`), the update-log merge spec
# (`run_update_log`'s sidecar).
_OWNERSHIP_PROOF_KEYS: dict[str, set[str]] = {
    SIDECAR: {"id_col", "members", "refresh"},
    "_qstats.json": {"base_mean_qerr", "n_rows"},
    "_cstats.json": {"base_mean_cdist", "n_rows"},
    "_merge.json": {"keys", "merge"},
    ENGINE_MARK: {"owner"},
}


def engine_owned_dir(spark: SparkSession, loc: str) -> bool:
    """Whether ``loc`` carries PROOF the engine wrote it: inside the
    warehouse namespace, or holding one of the engine's self-describing
    sidecars (the tombstone spec, the PQ ``_qstats.json`` drift
    baseline, the IVF ``_cstats.json`` baseline, the update-log
    ``_merge.json``, or the explicit ``ENGINE_MARK`` every other index
    builder plants) WITH the writer's content signature — name
    presence alone is not proof at an operator-supplied location (r13
    advice #1). THE gate for any cleanup that recursively deletes a
    directory at a location the operator supplied (custom-LOCATION
    databases can share dirs with other tooling; a name collision must
    never be destroyable — r13 review pass 4, finding 1). Every
    failure mode — unreadable file, non-JSON, missing keys, foreign
    owner — fails toward NOT deleting."""
    from dbt_on_snowflake_spark.engine.fs import (
        REPLACE_NEW_SUFFIX,
        fs_list,
        fs_read,
    )
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        _under_warehouse,
    )

    if _under_warehouse(spark, loc):
        return True
    # ONE child listing finds the candidates (each fs_exists is a
    # driver-side round-trip on an object store — r13 review pass 6,
    # finding 5); fs_list returns [] for a missing dir. A `.new`
    # twin left by a mid-replace crash is complete by the
    # fs_replace_atomic protocol whenever its canonical is absent, so
    # it proves ownership the same way.
    names = set(fs_list(spark, loc))
    candidates = [
        (n, canonical)
        for canonical in _OWNERSHIP_PROOF_KEYS
        for n in (canonical, canonical + REPLACE_NEW_SUFFIX)
        if n in names
    ]
    for name, canonical in candidates:
        try:
            raw = fs_read(spark, posixpath.join(loc, name))
        except Exception:  # noqa: BLE001 — unreadable/torn file != proof
            continue
        if _content_proves(canonical, raw) is not None:
            return True
    return False


def _content_proves(canonical: str, raw: bytes) -> dict | None:
    """The parsed spec when sidecar BYTES carry ``canonical``'s writer
    signature, else None — the one content-proof implementation shared
    by ``engine_owned_dir``, ``reattach_tombstones`` and
    ``_tombstone_spec_ex`` so the ownership gates cannot diverge when
    a writer's key set evolves (r14 review pass 4, finding 7), and so
    a proving caller reuses the parse instead of decoding twice (pass
    8, finding 4). Every failure mode — undecodable, non-JSON,
    non-dict, missing keys, foreign ENGINE_MARK owner — is None."""
    try:
        spec = json.loads(raw.decode())
    except Exception:  # noqa: BLE001 — torn/foreign bytes != proof
        return None
    if not isinstance(spec, dict):
        return None
    if not _OWNERSHIP_PROOF_KEYS[canonical] <= set(spec):
        return None
    if canonical == ENGINE_MARK and spec.get("owner") != ENGINE_OWNER:
        return None
    return spec


def mark_engine_dir(spark: SparkSession, table: str) -> None:
    """Plant the ownership marker in ``table``'s dir. Index builders
    call this for every persisted table that carries no
    self-describing sidecar of its own (band/pairs indexes, BM25
    stats/postings/doclen, centroid and codebook tables), so
    ``engine_owned_dir`` can prove ownership outside the warehouse
    namespace and a rebuild of an attached custom-LOCATION family can
    reset its slate instead of wedging on 'location already exists'
    (r13 review pass 5, finding 3). ``fs_replace_atomic``: no crash
    point leaves the dir marker-less (r13 verdict Next #4), so the
    ownership proof survives a mid-rewrite kill —
    ``engine_owned_dir`` enumerates both the canonical and the
    ``.new`` twin itself (one listing, plain ``fs_read`` per
    candidate, any read failure = not-proof, which fails toward NOT
    deleting)."""
    from dbt_on_snowflake_spark.engine.fs import fs_replace_atomic
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        table_location,
    )

    p = posixpath.join(table_location(spark, table), ENGINE_MARK)
    fs_replace_atomic(spark, p, ENGINE_MARK_BODY)


def reattach_tombstones(
    spark: SparkSession, tombstones_table: str, id_col: str | None = None
) -> bool:
    """Re-attach a PRIOR session's persisted tombstone table, if any.

    The ``attach_*`` index helpers restore persisted index tables into
    a fresh in-memory catalog — but ``live_rows``/``has_tombstones``
    key on ``catalog.tableExists``, so without this the re-attached
    index would serve UNGATED and silently resurrect the prior
    session's deletes (and read pre-delete BM25 stats) until a later
    ``index_delete`` call happened to re-attach the dir (r12 advice
    #1). Every ``attach_*`` helper therefore calls this for its
    family's tombstone table. Triage mirrors ``index_delete``'s
    fail-closed branches, restricted to read-side semantics:

    - committed tombstone files at the family's managed location ->
      re-attach the table over the dir (the serve gate sees them);
    - staged-only or empty dir -> attach nothing: no COMMITTED delete
      exists, so the ungated serve reflects the committed state (an
      in-flight delete becomes visible the moment it commits and a
      later attach/delete runs — commit-ordered cross-session
      visibility, the lakehouse read contract). Unlike the delete
      path's triage this never deletes the empty leftover and never
      raises on staged-only: a reader must not destroy or block on
      another session's in-flight write.

    What gates adoption (r13 review passes 2-5):

    - the ``_tombstones.json`` sidecar, the engine's ownership proof
      (``index_delete`` writes it before any id row lands) — accepted
      at ANY location, including a custom-LOCATION database's dir
      (that is where an outside-warehouse family keeps its tombstones,
      and skipping the attach there would serve deleted rows
      silently). ``_write_sidecar`` replaces it via
      ``fs_replace_atomic``, so a rewrite killed at any point leaves
      either the canonical or its complete ``.new`` twin — both
      resolved here through ``fs_read_replaceable`` — and the proof
      survives every crash window at every location (r13 verdict
      Next #4 closed the delete-then-create window this used to
      trade around); else
    - INSIDE the warehouse namespace only: the committed parquet's
      schema being EXACTLY the family's one ``id_col`` column — the
      shape only tombstone state has. Defense-in-depth for legacy
      dirs written before the atomic-replace protocol (their crashed
      rewrites could strand ids with no sidecar). At a FOREIGN
      location the weaker schema proof is NOT accepted (a one-column
      id export is a plausible name collision in a shared dir).

    A dir matching neither is refused: attaching a foreign same-named
    dir would let later delete/fold calls write into and truncate a
    directory the engine does not own. Callers that cannot name the
    family's id column omit ``id_col`` and get sidecar-only adoption.

    Returns True when the table is attached (pre-existing or now)."""
    if spark.catalog.tableExists(tombstones_table):
        return True
    from dbt_on_snowflake_spark.engine.fs import (
        fs_exists,
        fs_list_files_split,
    )

    loc = _managed_location(spark, tombstones_table)
    if not fs_exists(spark, loc):
        return False
    committed, _staged = fs_list_files_split(spark, loc)
    if not committed:
        return False
    from dbt_on_snowflake_spark.engine.fs import fs_read_replaceable

    raw = fs_read_replaceable(spark, posixpath.join(loc, SIDECAR))
    if raw is not None and _content_proves(SIDECAR, raw) is None:
        # CONTENT-validate before adopting, exactly like
        # engine_owned_dir (r13 advice #1, same shared helper): a
        # foreign tool sharing a custom-LOCATION dir could have
        # written its own generically named `_tombstones.json` — name
        # presence alone must not let later delete/fold calls write
        # into and truncate a dir the engine does not own, nor crash
        # on spec['id_col'] (r14 review pass 2, finding 2). An
        # unparseable/foreign sidecar demotes to the no-sidecar triage
        # below.
        raw = None
    if raw is None:
        from dbt_on_snowflake_spark.engine.index_maintenance import (
            _under_warehouse,
        )

        if id_col is None or not _under_warehouse(spark, loc):
            # no sidecar (canonical or complete .new twin) at a
            # FOREIGN location: fs_replace_atomic guarantees one of
            # the two survives any crashed rewrite, so a dir with
            # committed parquet and NEITHER is not an engine family
            # mid-heal — at an outside-LOCATION database (which may
            # share its dir with other tooling, where a one-column id
            # export is a plausible name collision) the weaker schema
            # proof stays refused (r13 review pass 4, finding 2).
            return False
        # inside the warehouse this is ENGINE state: an unreadable
        # committed file is corruption or a transient I/O failure, and
        # both must surface loudly — silently refusing would attach
        # nothing and serve the index ungated, resurrecting the
        # deletes (r13 review pass 5, finding 1; the foreign-garbage
        # worry is already excluded by the warehouse-only restriction
        # above, so there is no refuse-don't-crash case left here)
        if spark.read.parquet(*committed).columns != [id_col]:
            return False
    spark.catalog.createTable(
        tombstones_table, path=loc, source="parquet"
    )
    return True


def tombstone_spec(
    spark: SparkSession, tombstones_table: str
) -> dict | None:
    """The family's self-describing sidecar, or None when absent.
    Reads through ``fs_read_replaceable`` so a rewrite that crashed
    between delete and rename still resolves (the ``.new`` twin is
    complete by the replace protocol)."""
    return _tombstone_spec_ex(spark, tombstones_table)[0]


def _tombstone_spec_ex(
    spark: SparkSession, tombstones_table: str
) -> tuple[dict | None, bool]:
    """``(spec, read_from_canonical)`` — the delete hot path needs to
    know whether the CANONICAL file satisfied the read (a ``.new``-only
    read means a crashed replace to heal by rewriting) without paying
    a second existence round-trip (r14 review, finding 5)."""
    from dbt_on_snowflake_spark.engine.fs import fs_read_replaceable_ex

    raw, canonical = fs_read_replaceable_ex(
        spark, _sidecar_path(spark, tombstones_table)
    )
    spec = None if raw is None else _content_proves(SIDECAR, raw)
    if spec is None:
        # a torn sidecar (pre-atomic-protocol writer killed mid-create)
        # or a foreign/shape-invalid one (valid JSON but not a dict,
        # or missing the writer's key signature — the r13 advice #1
        # threat) must DEMOTE, not crash downstream on
        # old['id_col']/spec.get(...): (None, False) routes
        # index_delete into its rewrite-heal and fold_tombstones into
        # its loud fail-closed refusal — the SAME _content_proves
        # triage reattach_tombstones applies (r14 review pass 6
        # finding 2 + pass 7 finding 2)
        return None, False
    return spec, canonical


def _merge_members(
    old: list[dict] | None, new: list[dict]
) -> list[dict]:
    """Union of two member declarations, keyed by table: members only
    ever ACCRETE (a later delete call that names an additional member —
    e.g. the minhash pairs side output — must widen the fold's scope;
    shrinking it could let a fold truncate tombstones some member was
    never rewritten for). id_cols union preserves first-seen order."""
    merged: dict[str, list[str]] = {}
    order: list[str] = []
    for m in (old or []) + new:
        t = m["table"]
        if t not in merged:
            merged[t] = []
            order.append(t)
        for c in m["id_cols"]:
            if c not in merged[t]:
                merged[t].append(c)
    return [{"table": t, "id_cols": merged[t]} for t in order]


def _write_sidecar(
    spark: SparkSession, tombstones_table: str, spec: dict
) -> None:
    """(Re)write the sidecar via ``fs_replace_atomic``: a crash at any
    point leaves a complete spec readable through
    ``fs_read_replaceable`` (canonical, or the complete ``.new`` a
    crash between delete and rename left), so a rewrite can never
    strand committed tombstone ids without their member declaration —
    the r13-documented residual this replaced (r13 verdict Next #4)."""
    from dbt_on_snowflake_spark.engine.fs import fs_replace_atomic

    p = _sidecar_path(spark, tombstones_table)
    fs_replace_atomic(spark, p, json.dumps(spec, indent=1).encode())


def index_delete(
    spark: SparkSession,
    ids: DataFrame,
    *,
    tombstones_table: str,
    id_col: str,
    members: list[dict],
    refresh: dict | None = None,
) -> None:
    """Tombstone ``ids`` (a one-column or wider DataFrame; only
    ``id_col`` is read) for the index family whose member tables are
    ``members`` (``[{"table": name, "id_cols": [cols...]}, ...]`` — a
    member may reference the id under several columns, e.g. a verified
    -pairs table's doc_a/doc_b). ``refresh`` optionally names a derived
    one-row stats table the fold must recompute after dropping rows
    (``{"kind": "bm25_stats", ...}`` — kinds registered in
    ``_REFRESH_KINDS``; an unknown kind makes the fold skip the family,
    never truncate it).

    CONTRACT: ``members`` must be the family's COMPLETE member set on
    every call. Declarations accrete across calls while the tombstone
    table lives, but a full fold DROPS the table (sidecar included), so
    a later narrower call would re-declare a narrower family and the
    omitted member would never be rewritten for the new ids. Family
    delete helpers therefore derive their full member set themselves
    (``minhash_index_delete`` auto-includes the conventional pairs
    sibling); a caller using NON-conventional member names must pass
    them all, every time.

    The append is idempotent under at-least-once redelivery: ids
    already tombstoned are dropped via a broadcast probe through a
    FILE-LIST SNAPSHOT of the tombstone table (the ``text_index_append``
    convention — the probe's read stays stable when re-evaluated after
    this call's own append lands). Ids absent from the index are
    harmless (the anti-joins and the fold simply match nothing).
    Cost is O(|ids|) plus the narrow probe — no member table is read
    or written here; the physical rewrite is the fold's job."""
    from dbt_on_snowflake_spark.engine.fs import fs_list_files
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        table_location,
    )

    new_ids = ids.select(id_col).distinct()
    if not spark.catalog.tableExists(tombstones_table):
        # a catalog-less dir may exist at the managed location — a
        # previous SESSION's tombstones (the in-memory catalog forgets
        # tables, their files persist), or the sidecar-only leftover of
        # a fold that crashed between DROP and its dir delete. Every
        # branch is fail-closed (r12 review passes 3/4):
        # - live tombstone files present -> RE-ATTACH the table over
        #   the dir (ids + accreted sidecar preserved; deleting them
        #   would resurrect the prior session's deletes);
        # - files-free leftover under a warehouse-controlled root ->
        #   delete it (CREATE refuses non-empty managed locations);
        # - anything under a FOREIGN location (a database created with
        #   an outside LOCATION — may hold someone else's data, the
        #   index-GC convention) -> touch nothing; if the dir is
        #   non-empty the CREATE below fails loudly, never silently.
        from dbt_on_snowflake_spark.engine.fs import fs_delete, fs_exists
        from dbt_on_snowflake_spark.engine.index_maintenance import (
            _under_warehouse,
        )

        stale = _managed_location(spark, tombstones_table)
        if fs_exists(spark, stale) and _under_warehouse(spark, stale):
            from dbt_on_snowflake_spark.engine.fs import (
                fs_list_files_split,
            )

            stale_committed, stale_staged = fs_list_files_split(
                spark, stale  # one traversal for the whole triage
            )
            if stale_committed:
                # committed tombstones -> re-attach over the dir
                spark.catalog.createTable(
                    tombstones_table, path=stale, source="parquet"
                )
            elif stale_staged:
                # only STAGED files: another session's delete is
                # in flight (or a crashed write's staging remains) —
                # deleting would destroy a commit landing in the
                # window, and re-attach would fail schema inference;
                # fail loudly and let the retry land after the other
                # writer commits (r12 review pass 6)
                raise ValueError(
                    f"{stale} holds only in-flight/abandoned staged "
                    "files; retry after the concurrent delete commits "
                    "(a crashed writer's staging is reclaimed by "
                    "`compact --indexes`'s age-based staging sweep)"
                )
            else:
                fs_delete(spark, stale)
        if not spark.catalog.tableExists(tombstones_table):
            new_ids.limit(0).write.mode("overwrite").saveAsTable(
                tombstones_table
            )
    # the sidecar is (re)written on EVERY delete, BEFORE any id row
    # lands, merging the member declaration into whatever was recorded
    # before: this heals a first delete that crashed between table
    # creation and sidecar write (the retry rewrites it), and a later
    # call declaring an additional member (e.g. a pairs side output)
    # widens the fold's scope instead of being silently ignored —
    # members only ever accrete (r12 review, findings 3/4)
    old, old_canonical = _tombstone_spec_ex(spark, tombstones_table)
    if old is not None and old["id_col"] != id_col:
        raise ValueError(
            f"{tombstones_table} already tombstones {old['id_col']!r}; "
            f"refusing to mix in {id_col!r}"
        )
    spec = {
        "id_col": id_col,
        "members": _merge_members(old and old["members"], members),
        "refresh": refresh if refresh is not None else (
            old and old.get("refresh")
        ),
    }
    if spec != old or not old_canonical:
        # rewrite when the declaration changed — or when the CANONICAL
        # file did not satisfy the read (the spec came from a crashed
        # replace's complete `.new` twin, or is absent entirely; the
        # rewrite renames/recreates it via fs_replace_atomic). The
        # steady-state redelivery case (unchanged spec, canonical
        # present) stays write-free (r12 review pass 2) — and pays no
        # second existence round-trip (r14 review, finding 5).
        _write_sidecar(spark, tombstones_table, spec)
    snap = fs_list_files(
        spark, table_location(spark, tombstones_table)
    )
    if snap:
        dup = (
            spark.read.parquet(*snap)
            .select(id_col)
            .join(F.broadcast(new_ids), id_col)
        )
        new_ids = new_ids.join(F.broadcast(dup), id_col, "left_anti")
    new_ids.write.mode("append").saveAsTable(tombstones_table)
    spark.catalog.refreshTable(tombstones_table)


def live_rows(
    spark: SparkSession,
    df: DataFrame,
    tombstones_table: str,
    id_col: str,
) -> DataFrame:
    """Gate an index-member relation to its live (non-tombstoned) rows.
    Exact no-op — same object, same plan — when the family has no
    tombstone table (the common case: plan pins on the pristine serves
    hold). Otherwise one broadcast anti-join; tombstone volume between
    folds is bounded (module docstring), so the broadcast is small."""
    if not spark.catalog.tableExists(tombstones_table):
        return df
    tomb = spark.table(tombstones_table).select(id_col)
    return df.join(F.broadcast(tomb), id_col, "left_anti")


def has_tombstones(spark: SparkSession, tombstones_table: str) -> bool:
    """Whether the family has ever seen a delete (driver-side catalog
    probe, no Spark job). Serve paths use this to switch derived stats
    from the persisted one-row table to a live recompute over the
    gated rows — the fold refreshes the persisted stats before
    truncating, so the switch is only ever needed while tombstones can
    exist."""
    return spark.catalog.tableExists(tombstones_table)


def _refresh_bm25_stats(spark: SparkSession, refresh: dict) -> None:
    """Recompute the BM25 one-row stats from the CURRENT doclen table
    with the exact expression ``build_text_index`` uses — the shared
    single source for both call contexts: the fold (doclen already
    anti-join-rewritten, so the persisted avgdl is bit-identical to a
    from-scratch build over the shrunken corpus) and
    ``text_index_append`` (doclen just grown, after the session-clone
    ``refreshTable``). While un-folded tombstones exist the serves
    ignore this table anyway and compute stats LIVE over the gated
    rows (``has_tombstones``), so a post-append refresh never persists
    pre-gate stats into a serve. Re-plants the ownership marker the
    overwrite strips.

    When the refresh declares the family's persisted per-term df table
    (r18, ``_text_df_table`` — the fold path; ``text_index_append``
    maintains df incrementally and does NOT declare it), df is rebuilt
    wholesale from the rewritten postings: doclen-semi-joined (orphan
    postings of a crashed append stay out, exactly as a from-scratch
    build over the live corpus would leave them out) and
    (term, doc_id)-deduplicated (redelivery duplicates collapse), so
    the rebuilt df is bit-identical to a rebuild without the deleted
    docs. A pending crashed append's df rows are overwritten away; its
    redelivery re-merges them (the bkey probe sees them gone). Crash
    safety: this runs BEFORE the fold truncates the tombstones, so a
    crash anywhere inside it (including between the df drop and its
    rewrite) leaves the tombstones standing — every serve stays on the
    LIVE-stats branch, never reading the missing/partial df table, and
    the next sweep retries the fold."""
    doclen_t, stats_t = refresh["doclen_table"], refresh["stats_table"]
    spark.catalog.refreshTable(doclen_t)
    (
        spark.table(doclen_t)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias(
                "avgdl"
            ),
        )
        .write.mode("overwrite")
        .saveAsTable(stats_t)
    )
    # the overwrite recreates the dir: re-plant the ownership marker
    # or the first fold strips the builders' proof (r13 review pass 6,
    # finding 2; member tables keep theirs via the _*.json-carrying
    # swap, this one-row rewrite bypasses the swap)
    mark_engine_dir(spark, stats_t)
    df_t = refresh.get("df_table")
    postings_t = refresh.get("postings_table")
    if df_t and postings_t:
        from dbt_on_snowflake_spark.operators.dedup import (
            _drop_managed_table,
        )
        from dbt_on_snowflake_spark.operators.textops import _term_part

        spark.catalog.refreshTable(postings_t)
        rebuilt = (
            spark.table(postings_t)
            .select("term", "doc_id")
            .join(
                spark.table(doclen_t).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            .distinct()
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .select(
                "term",
                "df",
                F.lit(0).cast("long").alias("gen"),
                F.lit("fold").alias("bkey"),
                _term_part().alias("term_part"),
            )
            .repartition("term_part")
        )
        # same drop-then-overwrite discipline as build_text_index's
        # partitioned writes; the rebuild plan was constructed above,
        # BEFORE the drop, and reads only postings/doclen — never df
        _drop_managed_table(spark, df_t)
        rebuilt.write.mode("overwrite").partitionBy(
            "term_part"
        ).saveAsTable(df_t)
        mark_engine_dir(spark, df_t)
        spark.catalog.refreshTable(df_t)


_REFRESH_KINDS = {"bm25_stats": _refresh_bm25_stats}


def fold_tombstones(
    spark: SparkSession, tombstones_table: str
) -> tuple[int, int] | None:
    """Fold one family's tombstones into its member tables: anti-join
    rewrite each member under the compaction swap protocol, refresh the
    declared stats, then delete exactly the tombstone files that were
    read. Returns ``(n_members_rewritten, n_tombstone_files_folded)``;
    ``None`` when there is nothing to fold. Raises (for the sweep's
    skip-with-reason report) whenever proceeding could lose a delete —
    missing/undecodable sidecar, unknown refresh kind, missing member,
    bucketed member, or a member rewrite aborted by a racing append.
    In every raise path the tombstone table is left untouched, so the
    serves stay exact and the next sweep retries."""
    from dbt_on_snowflake_spark.engine.fs import (
        fs_delete,
        fs_list_files,
    )
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        rewrite_index_table,
        table_location,
    )

    loc = table_location(spark, tombstones_table)
    snap = fs_list_files(spark, loc)
    if not snap:
        # nothing to fold — but an empty table left standing by a
        # staging-blocked drop (r12 review pass 8) must still return
        # to pristine once the staging clears (the CLI reclaims
        # abandoned staging BEFORE this sweep)
        _drop_when_fully_empty(spark, tombstones_table, loc)
        return None
    spec = tombstone_spec(spark, tombstones_table)
    if spec is None:
        raise ValueError(
            f"{tombstones_table} has no {SIDECAR} sidecar; cannot "
            "name its member tables — refusing to fold"
        )
    # the sidecar records BARE member names (the delete ran with the
    # family's database current); the sweep may run with a different
    # current database, so resolve every member — and the refresh's
    # tables — in the TOMBSTONE TABLE's own database. Resolving
    # against the sweep's current database would either fail on every
    # sweep ('missing member') or, worse, fold another database's
    # same-named index with this family's ids (r12 review, finding 1).
    db_prefix = (
        tombstones_table.rsplit(".", 1)[0] + "."
        if "." in tombstones_table
        else ""
    )

    def qualify(name: str) -> str:
        return name if "." in name else db_prefix + name

    refresh = spec.get("refresh")
    if refresh is not None:
        refresh = {
            k: (qualify(v) if k.endswith("_table") else v)
            for k, v in refresh.items()
        }
    # every fail-closed precondition BEFORE the first rewrite: a fold
    # that rewrites some members and then discovers it cannot finish
    # would leave wasted work (though never lost deletes)
    if refresh is not None and refresh.get("kind") not in _REFRESH_KINDS:
        raise ValueError(
            f"{tombstones_table} declares unknown refresh kind "
            f"{refresh.get('kind')!r}; refusing to fold"
        )
    members = [
        {"table": qualify(m["table"]), "id_cols": m["id_cols"]}
        for m in spec["members"]
    ]
    for m in members:
        if not spark.catalog.tableExists(m["table"]):
            raise ValueError(
                f"member {m['table']} of {tombstones_table} is "
                "missing (crashed swap?); refusing to fold until its "
                "ensure_* path restores it"
            )
    # the ids are read through the file-list snapshot so every member's
    # anti-join sees the SAME id set even if a concurrent delete
    # appends mid-fold (those new files survive the truncate below)
    ids = spark.read.parquet(*snap).select(spec["id_col"]).distinct()
    # localCheckpoint: the id set is re-evaluated once per member
    # rewrite and is small by the bounded-tombstone posture;
    # materializing it also drops the plan's dependency on the files
    # the truncate below deletes
    ids = ids.localCheckpoint(eager=True)
    rewritten = 0
    for m in members:

        def drop_tombstoned(df: DataFrame, cols=tuple(m["id_cols"])):
            for c in cols:
                df = df.join(
                    F.broadcast(
                        ids.withColumnRenamed(spec["id_col"], c)
                    ),
                    c,
                    "left_anti",
                )
            return df

        if rewrite_index_table(spark, m["table"], drop_tombstoned) is None:
            raise ValueError(
                f"member {m['table']} rewrite aborted "
                f"({RACED_FOLD}); tombstones retained for the next "
                "sweep"
            )
        rewritten += 1
    if refresh is not None:
        _REFRESH_KINDS[refresh["kind"]](spark, refresh)
    # truncate LAST, and only the snapshot's files: deletes that landed
    # mid-fold keep their tombstones (and their serve-side anti-join)
    for f in snap:
        fs_delete(spark, f)
    spark.catalog.refreshTable(tombstones_table)
    _drop_when_fully_empty(spark, tombstones_table, loc)
    return rewritten, len(snap)


def _drop_when_fully_empty(
    spark: SparkSession, tombstones_table: str, loc: str
) -> None:
    """Drop a tombstone table whose dir holds nothing beyond row-free
    write markers and this repo's metadata sidecars (the top-level
    children test below — stricter than any suffix-filtered listing:
    an in-flight staged concurrent delete, an extensionless task file,
    or a ``._COPYING_`` rendition all keep the table standing), so the
    serves return to their PRISTINE plans: no anti-join, and the
    one-row persisted stats (which the fold's refresh made exact) are
    read again instead of the live recompute (r12 review, finding 6).
    A writer genuinely concurrent with maintenance schedules both
    through the same tasks.yml serialization (index_maintenance.py's
    standing posture); the next delete recreates table + sidecar from
    scratch."""
    from dbt_on_snowflake_spark.engine.fs import (
        fs_delete,
        fs_exists,
        fs_list,
    )
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        _under_warehouse,
    )

    # emptiness by TOP-LEVEL CHILDREN, not a parquet-suffixed listing
    # (r12 review pass 9: a suffix-filtered check was blind to
    # non-parquet in-flight content). Row-free metadata the writers
    # themselves leave — `_SUCCESS`, local-FS `.crc` checksums — and
    # this repo's own `_*.json` sidecars are ignorable; ANYTHING else
    # (a staging dir, an extensionless task file, a `._COPYING_`
    # rendition) keeps the table standing until the staging reclaim or
    # a later fold observes true emptiness.
    from dbt_on_snowflake_spark.engine.fs import is_replace_artifact

    def _residual(c: str) -> bool:
        return not (
            c == "_SUCCESS"
            # this repo's `_*.json` sidecars plus the replace
            # protocol's crash leftovers — the `.json.new` twin and
            # the never-read `.json.new.tmp` staging (r14 review
            # pass 3, finding 2: an unchanged-spec redelivery never
            # rewrites, so a leftover could otherwise gate the
            # pristine drop forever); the suffixes live in fs.py so
            # this gate cannot drift from the protocol
            or (
                c.startswith("_")
                and (
                    c.endswith(".json")
                    # only .json-based protocol leftovers: a foreign
                    # `_export.csv.new` must keep blocking the drop
                    # (r14 review pass 9, finding 6)
                    or is_replace_artifact(c, base_suffix=".json")
                )
            )
            or (c.startswith(".") and c.endswith(".crc"))
        )

    if any(_residual(c) for c in fs_list(spark, loc)):
        return
    spark.sql(f"DROP TABLE IF EXISTS {tombstones_table}")
    if fs_exists(spark, loc) and _under_warehouse(spark, loc):
        # a re-attached EXTERNAL tombstone table: DROP removed only
        # the catalog entry, leaving the dir (and the stale
        # sidecar) — the next delete's saveAsTable would refuse the
        # non-empty managed location and wedge the family (r12
        # review pass 2). We just verified no data files remain,
        # and the under-warehouse guard (pass 3; the maintenance
        # sweep's standing convention) keeps a table attached at a
        # FOREIGN location — someone else's dir, possibly holding
        # non-parquet content — out of reach. A leftover dir in a
        # foreign-LOCATION database can still collide with a later
        # CREATE; index_delete's create path handles that loudly
        # (it refuses to touch foreign dirs too, so the CREATE
        # error surfaces instead of a silent delete).
        fs_delete(spark, loc)


def fold_tombstone_families(
    spark: SparkSession,
) -> tuple[list[tuple[str, int, int]], list[tuple[str, str]]]:
    """Sweep every database for tombstone tables (``*_tombstones_*``
    naming, the family helpers' convention) and fold each. Returns
    ``(folded, skipped)`` — one unfoldable family is reported and
    skipped, never allowed to abort the rest of the maintenance sweep,
    and skipping is always SAFE: its tombstones stay in place and its
    serves stay gated."""
    from dbt_on_snowflake_spark.engine.catalog import (
        list_databases,
        list_tables,
    )

    done: list[tuple[str, int, int]] = []
    skipped: list[tuple[str, str]] = []
    current = spark.catalog.currentDatabase()
    for db in sorted(list_databases(spark)):
        for t in list_tables(spark, db):
            if t.is_temporary or "_tombstones_" not in t.name:
                continue
            if t.table_type not in ("MANAGED", "EXTERNAL"):
                continue
            qual = t.name if db == current else f"{db}.{t.name}"
            try:
                r = fold_tombstones(spark, qual)
            except Exception as exc:  # noqa: BLE001 — sweep must survive
                skipped.append((qual, str(exc)))
                continue
            if r is not None:
                done.append((qual, *r))
    return done, skipped
