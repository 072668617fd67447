"""Structured Streaming extension over the ``events`` table (SURVEY §2.7:
absent from the reference; required by the north-star extension surface).

The batch parquet drives a real streaming query (readStream → windowed agg
→ memory sink, availableNow trigger) so the streaming operators are
exercised end-to-end locally. ``events_stream_hourly`` produces the exact
same result as the batch ``t_events_hourly`` query and shares its DuckDB
oracle — streaming correctness is oracle-checked, not just smoke-checked.

At scale the source swaps to Kafka/object-store listing; the
transformations are unchanged. Watermarking is demonstrated in
``events_stream_hourly_watermarked`` (append mode): with a finite
backfill, windows within the watermark delay of max(ts) stay buffered —
the run-to-completion query uses complete mode for exact parity instead.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.functions import dsum, dsum_sql
from dbt_on_snowflake_spark.registry import query
from dbt_on_snowflake_spark.testdata import parquet_schema


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (schema from a batch peek;
    TIMESTAMP(NANOS) arrives as long and is converted like the batch
    loader)."""
    path = os.path.join(sf_dir, "events.parquet")
    schema = parquet_schema(spark, path)  # cached footer (testdata)
    # the file-stream source requires a directory: stream the sf dir with a
    # glob filter selecting just the events file
    s = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if dict(s.dtypes).get("ts") == "bigint":
        s = s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dict(s.dtypes).get("ts") == "timestamp_ntz":
        # a session WITHOUT nanosAsLong reads TIMESTAMP(NANOS) as NTZ,
        # which watermarks reject — cast to LTZ (exact under the UTC
        # session contract, same micros the bigint path produces)
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def run_to_table(sdf: DataFrame, spark: SparkSession, mode: str = "complete") -> DataFrame:
    """Drive a streaming frame to completion into a memory sink; return
    the materialized result as a batch DataFrame.

    CONTRACT: this is the local VERIFICATION harness, not the production
    sink. Complete mode keeps the entire aggregate in the state store and
    the memory sink collects the result into the driver — exactly what a
    finite oracle-checked replay needs, and exactly what an unbounded
    production stream must not do. The production shape (append mode +
    watermark + durable file sink, bounded state) is
    ``t_events_hourly_append`` below and tests/test_streaming_watermark.py.
    """
    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "t_events_hourly_streaming",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql("value", "total_value", 4)}
    FROM events
    GROUP BY 1, 2
    """,
)
def t_events_hourly_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly tumbling-window aggregation, executed through Structured
    Streaming (complete mode, availableNow) — result is bit-identical to
    the batch query and checked against the same oracle."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(
        F.window("ts", "1 hour").start.alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value", 4),
    )
    return run_to_table(agg, spark, "complete")


# session_window's merge condition is `event_ts < window_end` (end-
# exclusive), i.e. it SPLITS at gap >= G; the batch lag+cumsum sessionizer
# splits at gap > 30min. A gap of 30min + 1us makes the two bit-identical
# at the data's microsecond granularity: split iff gap >= 1800.000001s
# iff gap > 1800s.
_SESSION_GAP = "30 minutes 1 microsecond"


@query(
    "t_events_sessions_streaming",
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
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {dsum_sql("value", "session_value", 4)}
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def t_events_sessions_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via the native session_window operator,
    run through streaming in complete mode. Session boundaries equal the
    batch lag+cumsum sessionizer (t_events_sessionize) by construction
    (see _SESSION_GAP), so it shares that query's oracle: session_start =
    MIN(ts), session_end = window.end - gap = MAX(ts) per session."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(
        F.session_window("ts", _SESSION_GAP).alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "session_value", 4),
    )
    out = agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.expr(
            "w.end - interval 30 minutes - interval 1 microsecond"
        ).alias("session_end"),
        "n_events",
        "session_value",
    )
    return run_to_table(out, spark, "complete")


@query(
    "t_events_dedup_streaming",
    oracle="""
    SELECT DISTINCT user_id,
           event_type,
           time_bucket(INTERVAL '1 hour', ts) AS hour_start
    FROM events
    """,
)
def t_events_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: the at-least-once-delivery dedup every
    ingestion pipeline runs — stateful ``dropDuplicates`` on a derived
    key (user, type, hour bucket), append mode. Deterministic because the
    key IS the whole projected row (a full-row dropDuplicates keeps an
    arbitrary physical row; the key-projected form keeps a well-defined
    set), so it is oracle-checkable against batch DISTINCT.

    At scale: state is one entry per distinct key; with event-time keys
    a watermark bounds it (dropDuplicatesWithinWatermark) — demonstrated
    in tests/test_streaming_watermark.py for the windowed agg."""
    s = events_stream(spark, sf_dir)
    dedup = s.select(
        "user_id",
        "event_type",
        F.window("ts", "1 hour").start.alias("hour_start"),
    ).dropDuplicates(["user_id", "event_type", "hour_start"])
    return run_to_table(dedup, spark, "append")


@query(
    "t_events_dedup_wm_streaming",
    oracle="""
    SELECT DISTINCT user_id,
           event_type,
           time_bucket(INTERVAL '1 hour', ts) AS hour_start
    FROM events
    """,
)
def t_events_dedup_wm_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``t_events_dedup_streaming`` with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` + a 2h watermark evicts a key's
    state once the watermark passes its event time — the production
    contract for an unbounded at-least-once stream, where plain
    dropDuplicates' one-entry-per-key-forever state is the OOM.

    Equal to batch DISTINCT on this replay because duplicate arrivals
    of an (user, type, hour) key are confined to their hour (the key
    embeds the bucket) and the source's disorder is far under the 2h
    delay — the general contract is dedup-within-delay, pinned honestly
    (incl. the beyond-delay re-emission) by
    tests/test_streaming_watermark.py."""
    s = events_stream(spark, sf_dir)
    dedup = (
        s.withWatermark("ts", _WM_DELAY)
        .select(
            "ts",
            "user_id",
            "event_type",
            F.window("ts", "1 hour").start.alias("hour_start"),
        )
        .dropDuplicatesWithinWatermark(
            ["user_id", "event_type", "hour_start"]
        )
        .select("user_id", "event_type", "hour_start")
    )
    return run_to_table(dedup, spark, "append")


@query(
    "t_events_sliding_streaming",
    oracle=f"""
    SELECT ws AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql("value", "total_value", 4)}
    FROM (
        SELECT event_type, value,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts)
                           - INTERVAL '30 minutes']) AS ws
        FROM events
    )
    GROUP BY 1, 2
    """,
)
def t_events_sliding_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1h windows every 30min — each event
    lands in exactly two overlapping windows) through Structured
    Streaming in complete mode. The oracle replicates each event into
    its two covering window starts: floor30(ts) and floor30(ts) - 30min."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(
        F.window("ts", "1 hour", "30 minutes").start.alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value", 4),
    )
    return run_to_table(agg, spark, "complete")


_WM_DELAY = "2 hours"  # watermark delay for the append-mode twin


@query(
    "t_events_hourly_append",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql("value", "total_value", 4)}
    FROM events, mx
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
          <= max_ts - INTERVAL '2 hours'
    GROUP BY 1, 2
    """,
)
def t_events_hourly_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly aggregation in its PRODUCTION streaming shape: watermark
    + append output mode + durable parquet sink. Unlike the complete-mode
    twin (t_events_hourly_streaming), state is bounded — closed windows
    (window end <= watermark = max event time - 2h) are emitted once to
    the sink and evicted from the state store, which is what an unbounded
    24/7 stream requires.

    Append mode emits a window in the micro-batch AFTER the watermark
    passes it, so a finite replay needs two batches: run 1 streams the
    events file (advancing the watermark to max_ts - 2h at batch end);
    then a sentinel file — a duplicate of one existing event row, written
    behind the watermark so the late-data filter DROPS it (or it lands in
    a still-open window that is never emitted; either way the emitted
    result is unaffected) — forces run 2, which flushes every closed
    window to the sink. Restarting from the same checkpoint is also the
    state-store recovery path a production pipeline exercises on every
    deploy. The oracle is the batch aggregation restricted to closed
    windows: hour_start + 1h <= max(ts) - 2h.
    """
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    work = tempfile.mkdtemp(prefix="hourly_append_")
    staging = os.path.join(work, "in")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(staging)
    shutil.copy(src, os.path.join(staging, "events_batch0.parquet"))

    schema = spark.read.parquet(src).schema

    def run_once() -> None:
        s = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(staging)
        )
        if dict(s.dtypes).get("ts") == "bigint":
            s = s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dict(s.dtypes).get("ts") == "timestamp_ntz":
            # no-nanosAsLong session: NTZ -> LTZ (see events_stream)
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = (
            s.withWatermark("ts", _WM_DELAY)
            # group on the window struct itself: projecting .start inside
            # groupBy severs event-time lineage and append mode rejects
            # the aggregation as un-watermarked
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "total_value", 4),
            )
            .select(
                F.col("w.start").alias("hour_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # sentinel: first physical row of the file (exact schema round-trip via
    # arrow, preserving TIMESTAMP(NANOS)); its ts <= max_ts so the
    # watermark does not advance further
    t = pq.read_table(src)
    pq.write_table(t.slice(0, 1), os.path.join(staging, "events_sentinel.parquet"))
    run_once()

    return spark.read.parquet(out)


# -------------------------------------------- streaming incremental dedup


def _table_bucket_count(spark: SparkSession, name: str) -> int | None:
    """The saved table's bucket count from the catalog (DESCRIBE
    FORMATTED), or None for an unbucketed table — appends must match the
    spec the table was BUILT with, whatever that was."""
    for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        if (r.col_name or "").strip() == "Num Buckets":
            return int(r.data_type)
    return None


def dedup_stream_against_index(
    spark: SparkSession,
    new_docs_stream: DataFrame,
    index_table: str,
    cand_dir: str,
) -> None:
    """Continuous-ingestion dedup: drive a stream of new documents
    through per-micro-batch probes of the persisted MinHash band index.
    Each batch (1) generates candidates against the CURRENT index
    (new-vs-corpus and new-vs-everything-ingested-before, via the index;
    new-vs-new within the batch via a self-join), appending them to
    ``cand_dir``, then (2) GROWS the index with its own band keys so
    later batches dedup against it — every cross-batch pair is
    discovered exactly once, in the later document's batch.

    State posture: the stream itself carries NO Spark state (no
    watermark/agg state to bound) — all cross-batch memory lives in the
    durable bucketed index, which is exactly the artifact batch-mode
    incremental dedup maintains. At 100 TB the index append is the only
    write amplification, and it's the batch's own (tiny) band keys."""
    from dbt_on_snowflake_spark.operators.dedup import (
        dedup_incremental_candidates,
        minhash_band_keys,
    )

    # Honor the EXISTING table's bucket spec rather than assuming the
    # module default: an index built with build_minhash_index(...,
    # n_buckets=N) for N != INDEX_N_BUCKETS would otherwise fail the
    # append with a bucket-spec mismatch (or silently require manual
    # sync between builder and streamer).
    n_buckets = _table_bucket_count(spark, index_table)

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        # one minhash pass per batch: the band keys feed BOTH the probe
        # and the index append, so materialize them once (the shingle
        # explode + hashing is the dominant per-batch compute)
        bands = minhash_band_keys(batch_df).localCheckpoint()
        cand = dedup_incremental_candidates(
            spark, None, index_table, bands=bands
        )
        cand.write.mode("append").parquet(cand_dir)
        writer = bands.write.mode("append").format("parquet")
        if n_buckets:
            writer = writer.bucketBy(n_buckets, "band_key").sortBy("band_key")
        writer.saveAsTable(index_table)
        # the append ran through the micro-batch's session clone; drop
        # the driving session's cached file listing or the NEXT batch
        # probes a stale index and silently misses cross-batch pairs
        spark.catalog.refreshTable(index_table)

    q = (
        new_docs_stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@query(
    "dedup_incremental_streaming",
    oracle=None,  # set below: shares the batch verified-pairs oracle
)
def dedup_incremental_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-index dedup executed through Structured
    Streaming: the corpus (doc_id % 5 != 0) builds the persisted index
    and its verified pairs; the new batch (doc_id % 5 == 0) arrives as
    a STREAM whose micro-batches probe-and-grow the index
    (``dedup_stream_against_index``); accumulated candidates are
    exact-Jaccard verified once at the end. Result — corpus pairs ∪
    verified streamed pairs — is bit-identical to batch-mode
    ``dedup_minhash_verified`` on the full table (shared oracle), so
    the streaming path provably loses nothing."""
    import hashlib
    import tempfile

    from dbt_on_snowflake_spark.engine.fs import fs_delete
    from dbt_on_snowflake_spark.operators.dedup import (
        build_minhash_index,
        shingle_df,
        verify_pairs,
    )
    from dbt_on_snowflake_spark.testdata import fan_out_scan, table

    suffix = hashlib.md5(f"stream:{sf_dir}".encode()).hexdigest()[:8]
    index_table = f"mh_stream_index_{suffix}"
    pairs_table = f"mh_stream_corpus_pairs_{suffix}"
    cand_dir = os.path.join(tempfile.gettempdir(), f"mh_stream_cand_{suffix}")
    fs_delete(spark, cand_dir)  # Hadoop FS: object-store-safe cleanup

    d = fan_out_scan(
        spark,
        table(spark, sf_dir, "documents"),
        key_path=os.path.join(sf_dir, "documents.parquet"),
    )
    build_minhash_index(
        spark,
        d.filter(F.col("doc_id") % 5 != 0),
        index_table=index_table,
        pairs_table=pairs_table,
    )
    path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, path)  # cached footer (testdata)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
    )
    dedup_stream_against_index(spark, stream, index_table, cand_dir)

    # bounded-intermediate lineage cuts (the dedup_incremental_index
    # recipe): cand's distinct and the candidate-doc shingle relation
    # are each referenced 3x downstream — uncut, every reference
    # re-ran the distinct shuffle / the full corpus shingle explode
    cand = spark.read.parquet(cand_dir).distinct().localCheckpoint()
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = shingle_df(spark, sf_dir).join(
        ids, "doc_id", "left_semi"
    ).localCheckpoint()
    return spark.table(pairs_table).unionByName(verify_pairs(cand, sh))


# share the batch verified-pairs oracle (import here to avoid a cycle at
# module import time)
def _set_stream_dedup_oracle() -> None:
    from dbt_on_snowflake_spark.operators.dedup import _MINHASH_VERIFIED_ORACLE
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["dedup_incremental_streaming"].oracle = _MINHASH_VERIFIED_ORACLE


_set_stream_dedup_oracle()


# ------------------------------- streaming text-index (BM25) maintenance


def text_index_stream_ingest(
    spark: SparkSession,
    new_docs_stream: DataFrame,
    tables: tuple[str, str, str],
    checkpoint_dir: str | None = None,
) -> None:
    """Continuous text-index maintenance: each micro-batch of new
    documents appends its postings/doclens and refreshes the stats row
    via ``text_index_append`` — the same grow step the batch path runs
    per ingest. The stream carries NO Spark aggregation state (no
    watermark/agg state to bound): cross-batch DATA memory lives in
    the durable index tables, and cross-batch PROGRESS lives in
    ``checkpoint_dir`` — pass a durable one in production (a
    checkpoint-less restart re-reads the whole source; the append's
    idempotence probe then turns every re-read batch into a no-op).
    foreachBatch is at-least-once even WITH a checkpoint: a crash
    mid-batch replays that batch, and ``text_index_append`` absorbs
    the replay — docs whose doclen row (written last, the batch's
    commit record) landed are dropped by the probe, docs caught
    between the postings and doclen writes re-append exact-duplicate
    postings that ``bm25_topn_indexed``'s MAX/count aggregates
    collapse at read. Per-batch write amplification is the batch's own
    postings plus the narrow probe and stats passes."""
    from dbt_on_snowflake_spark.operators.textops import (
        _text_df_table,
        text_index_append,
    )

    stats_t, postings_t, doclen_t = tables

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        text_index_append(
            spark,
            batch_df,
            stats_table=stats_t,
            postings_table=postings_t,
            doclen_table=doclen_t,
        )
        # appends ran through the micro-batch's session clone; drop the
        # driving session's cached listings or the next batch's stats
        # refresh reads stale doclens (dedup_stream_against_index
        # precedent). The derived per-term df table (r18) is part of
        # the family and needs the same refresh.
        for t in tables + (_text_df_table(postings_t),):
            spark.catalog.refreshTable(t)

    writer = new_docs_stream.writeStream.foreachBatch(handle).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


@query(
    "text_index_ingest_streaming",
    oracle=None,  # set below
)
def text_index_ingest_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-index maintenance executed through Structured Streaming:
    the corpus (doc_id % 10 <> 9) builds the persisted index; the
    held-out documents arrive as a STREAM whose micro-batches
    append-and-refresh via ``text_index_stream_ingest``; the
    post-ingest serve must hash-match the FULL-corpus recompute oracle
    — the streaming grow path provably converges to the from-scratch
    index (multi-batch convergence pinned by
    ``test_text_index_stream_multi_batch_converges``). The checkpoint
    is durable and cleared TOGETHER with the index rebuild below —
    the two are one consistency unit: progress for an index that was
    just rebuilt from scratch would make the stream skip every
    held-out doc (restart-resume itself is pinned by
    ``test_text_index_stream_restart_resumes_from_checkpoint``)."""
    import hashlib
    import posixpath

    from dbt_on_snowflake_spark.engine.fs import fs_delete
    from dbt_on_snowflake_spark.operators.textops import (
        _BASE_DOCS_PRED,
        _NEW_DOCS_PRED,
        BM25_TOP_N,
        bm25_topn_indexed,
        build_text_index,
    )
    from dbt_on_snowflake_spark.testdata import table

    suffix = hashlib.md5(f"textstream:{sf_dir}".encode()).hexdigest()[:8]
    tables = (
        f"bm25_stats_{suffix}",
        f"bm25_postings_{suffix}",
        f"bm25_doclen_{suffix}",
    )
    d = table(spark, sf_dir, "documents")
    build_text_index(
        spark,
        d.filter(F.expr(_BASE_DOCS_PRED)),
        stats_table=tables[0],
        postings_table=tables[1],
        doclen_table=tables[2],
    )
    path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, path)  # cached footer (testdata)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
        .filter(F.expr(_NEW_DOCS_PRED))
    )
    # warehouse paths go through the engine fs helpers, never os/shutil
    # (r10 advice, streaming/__init__.py:623): the warehouse may be an
    # object store — same posture as the maintenance sweep
    wh = spark.conf.get("spark.sql.warehouse.dir")
    ckpt = posixpath.join(wh, f"_checkpoints/text_ingest_{suffix}")
    fs_delete(spark, ckpt)  # index was just rebuilt
    text_index_stream_ingest(spark, stream, tables, checkpoint_dir=ckpt)
    return bm25_topn_indexed(spark, sf_dir, BM25_TOP_N, tables=tables)


def pq_index_stream_ingest(
    spark: SparkSession,
    new_vecs_stream: DataFrame,
    *,
    codebook_table: str,
    codes_table: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Continuous PQ-codes maintenance — the streaming twin of
    ``pq_index_append``, completing the index-family matrix (text and
    ANN both have build/append/streaming/compaction; PQ gained append
    in r11, this is its stream face): each micro-batch of new vectors
    encodes against the FROZEN persisted codebook and appends into the
    label-partitioned codes table. The stream carries NO Spark
    aggregation state: cross-batch DATA memory lives in the durable
    codes table, cross-batch PROGRESS in ``checkpoint_dir``.
    foreachBatch is at-least-once even WITH a checkpoint — a crash
    mid-batch replays it, and the append's file-list-snapshot probe
    absorbs the replay (already-coded vec_ids drop; a fully re-read
    source after a checkpoint-less restart appends nothing)."""
    from dbt_on_snowflake_spark.operators.similarity import pq_index_append

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        pq_index_append(
            spark,
            batch_df,
            codebook_table=codebook_table,
            codes_table=codes_table,
        )
        # the append ran through the micro-batch's session clone; drop
        # the driving session's cached listing or the next batch's
        # probe reads a stale snapshot (text_index_stream_ingest
        # precedent)
        spark.catalog.refreshTable(codes_table)

    writer = new_vecs_stream.writeStream.foreachBatch(handle).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


@query(
    "ann_pq_adc_ingest_streaming",
    oracle=None,  # set below
)
def ann_pq_adc_ingest_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-index maintenance executed through Structured Streaming: the
    corpus slice (vec_id % 10 <> 9) builds the index (codebook frozen
    there), the held-out vectors arrive as a STREAM whose micro-batches
    encode-and-append via ``pq_index_stream_ingest``, and the
    post-ingest ADC serve must hash-match ``ann_pq_adc_appended``'s
    frozen-codebook oracle — the streaming grow path provably converges
    to the batch append (and both to a rebuild against the same
    codebook). The checkpoint is durable and cleared TOGETHER with the
    index rebuild below — one consistency unit (the
    text_index_ingest_streaming contract)."""
    import hashlib
    import posixpath

    from dbt_on_snowflake_spark.engine.fs import fs_delete
    from dbt_on_snowflake_spark.operators.similarity import (
        _CORPUS_PRED,
        _NEW_BATCH_PRED,
        TOP_K,
        _adc_serve,
        _vectors,
        build_pq_index,
    )

    suffix = hashlib.md5(f"pqstream:{sf_dir}".encode()).hexdigest()[:8]
    cb_t, cd_t = f"pq_codebook_{suffix}", f"pq_codes_{suffix}"
    e = _vectors(spark, sf_dir)
    # rebuilt from scratch each call: this query IS the build+stream
    # verification surface (text_index_ingest_streaming's posture)
    build_pq_index(
        spark,
        e.filter(F.expr(_CORPUS_PRED)),
        codebook_table=cb_t,
        codes_table=cd_t,
    )
    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = parquet_schema(spark, path)  # cached footer (testdata)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
        .filter(F.expr(_NEW_BATCH_PRED))
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    wh = spark.conf.get("spark.sql.warehouse.dir")
    ckpt = posixpath.join(wh, f"_checkpoints/pq_ingest_{suffix}")
    fs_delete(spark, ckpt)  # index was just rebuilt
    pq_index_stream_ingest(
        spark, stream, codebook_table=cb_t, codes_table=cd_t,
        checkpoint_dir=ckpt,
    )
    spark.catalog.refreshTable(cd_t)
    from dbt_on_snowflake_spark.operators.similarity import _live_codes

    codes = _live_codes(spark, cd_t)
    return _adc_serve(spark, e, cb_t, codes, TOP_K)


def _set_text_ingest_oracle() -> None:
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["text_index_ingest_streaming"].oracle = QUERIES[
        "text_bm25_topk"
    ].oracle
    QUERIES["ann_pq_adc_ingest_streaming"].oracle = QUERIES[
        "ann_pq_adc_appended"
    ].oracle


_set_text_ingest_oracle()


# ------------------------------------- custom stateful operator (funnel)

# Batch twin's oracle (analytics.t_event_funnel) — set after registration
# like the streaming dedup row, to avoid an import cycle.
_FUNNEL_OUT_SCHEMA = "user_id BIGINT, v TIMESTAMP, c TIMESTAMP, p TIMESTAMP"
_FUNNEL_STATE_SCHEMA = "v BIGINT, c BIGINT, p BIGINT"  # epoch micros


def _funnel_update(key, pdfs, state):
    """Per-user funnel state machine for applyInPandasWithState: fold the
    batch's events in event-time order onto (v, c, p) = earliest view /
    first click strictly after v / first purchase strictly after c. With
    a time-ordered feed (or the whole table in one availableNow batch,
    sorted here), the fold is exactly the batch MIN-cascade: the first
    eligible event in ts order IS the minimum."""
    import pandas as pd

    v, c, p = state.get if state.exists else (None, None, None)
    rows = pd.concat(list(pdfs)).sort_values("ts", kind="mergesort")
    for ts, et in zip(rows["ts"], rows["event_type"]):
        t = int(pd.Timestamp(ts).value) // 1000  # ns -> micros
        if et == "view":
            if v is None:
                v = t
        elif et == "click":
            if v is not None and t > v and c is None:
                c = t
        elif et == "purchase":
            if c is not None and t > c and p is None:
                p = t
    state.update((v, c, p))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "v": [pd.to_datetime(v, unit="us") if v is not None else pd.NaT],
            "c": [pd.to_datetime(c, unit="us") if c is not None else pd.NaT],
            "p": [pd.to_datetime(p, unit="us") if p is not None else pd.NaT],
        }
    )


def funnel_stream_states(
    spark: SparkSession, stream: DataFrame, out_dir: str
) -> None:
    """Drive the per-user funnel through applyInPandasWithState (update
    mode): each micro-batch emits every touched user's CURRENT (v, c, p),
    appended to ``out_dir`` with the batch id so the final snapshot is
    the max-batch row per user. NoTimeout because the local harness is a
    finite replay; an unbounded deployment bounds state with an
    event-time timeout under a watermark (the state is 3 longs per
    still-open user either way)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    updates = stream.groupBy("user_id").applyInPandasWithState(
        _funnel_update,
        _FUNNEL_OUT_SCHEMA,
        _FUNNEL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        updates.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def funnel_final_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest per-user snapshot (max batch_id) -> the funnel's headline
    counts, matching the batch MIN-cascade aggregate."""
    from pyspark.sql import Window

    snap = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    latest = (
        snap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("v").alias("n_viewed"),
        F.count("c").alias("n_clicked_after_view"),
        F.count("p").alias("n_purchased_after_click"),
    )


@query(
    "t_event_funnel_streaming",
    oracle=None,  # set below: shares the batch funnel's oracle
)
def t_event_funnel_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion funnel as a CUSTOM STATEFUL streaming operator —
    the applyInPandasWithState surface (arbitrary per-key state, the
    escape hatch when session_window/dropDuplicates can't express the
    semantics): per-user state machine over (first view, first click
    after it, first purchase after that), updated per micro-batch,
    final snapshot aggregated to the same four counts as the batch
    MIN-cascade `t_event_funnel` — and checked against its DuckDB
    oracle. Cross-batch state carry is pinned by
    ``test_streaming_funnel_matches_batch_across_batches``."""
    import hashlib
    import tempfile

    from dbt_on_snowflake_spark.engine.fs import fs_delete

    suffix = hashlib.md5(f"funnel:{sf_dir}".encode()).hexdigest()[:8]
    out_dir = os.path.join(tempfile.gettempdir(), f"funnel_snap_{suffix}")
    fs_delete(spark, out_dir)
    s = events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    funnel_stream_states(spark, s, out_dir)
    return funnel_final_counts(spark, out_dir)


def _set_stream_funnel_oracle() -> None:
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["t_event_funnel_streaming"].oracle = QUERIES[
        "t_event_funnel"
    ].oracle


_set_stream_funnel_oracle()


@query(
    "t_events_stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
    """,
)
def t_events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join — the attribution shape (each purchase
    matched to the views that preceded it within 1h, per user), the one
    streaming surface tumbling/session windows can't express.

    The event-time RANGE condition is what makes it bounded: with both
    sides watermarked, Spark derives a state-retention horizon from
    `p.ts BETWEEN v.ts AND v.ts + 1h` and evicts join state older than
    watermark - bound — without the range bound, both sides' state
    grows forever (the stream-join OOM). At scale the join keys
    partition state by (user_id), the same sharding as the batch
    twin's shuffle. Oracle = the identical batch self-join."""
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", _WM_DELAY)
        .alias("v")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", _WM_DELAY)
        .alias("p")
    )
    joined = views.join(
        purchases,
        (F.col("v.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("v.ts"))
        & (F.col("p.ts") <= F.col("v.ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        F.col("v.user_id").alias("user_id"),
        F.col("v.ts").alias("view_ts"),
        F.col("p.ts").alias("purchase_ts"),
    )
    return run_to_table(joined, spark, "append")


# ------------------------------------------------ streaming corpus ingest


INGEST_INDEX_BUCKETS = 16


def ingest_probe_keep(
    spark: SparkSession, batch_canon: DataFrame, index_table: str
) -> DataFrame:
    """Probe the batch's canonical docs against the bucketed ``(h,
    doc_id)`` index and return the rows to KEEP: hashes the index has
    never seen, plus IMPROVEMENTS — a doc_id strictly smaller than every
    indexed doc_id for its hash (advice r7: a multi-file source may
    deliver the global-min doc_id after its hash is indexed; dropping it
    would silently diverge from min-doc_id canonicalization). The index
    scan feeds the join in place (bucketed layout) and the follow-up
    min() groups on the join key, so the only exchange is the batch
    side's repartition into the bucket layout — per-batch exchange cost
    O(|batch|), never O(|index|)."""
    idx = spark.table(index_table).withColumnRenamed("doc_id", "idx_doc_id")
    cols = batch_canon.columns
    joined = batch_canon.repartition(INGEST_INDEX_BUCKETS, "h").join(
        idx, "h", "left"
    )
    # one row per batch doc (h is unique within batch_canon); the agg
    # groups on a superset of the h-partitioning, so no extra exchange
    return (
        joined.groupBy(*cols)
        .agg(F.min("idx_doc_id").alias("idx_min"))
        .filter(
            F.col("idx_min").isNull() | (F.col("doc_id") < F.col("idx_min"))
        )
        .drop("idx_min")
    )


def make_ingest_handler(
    spark: SparkSession, index_table: str, kept_dir: str
):
    """foreachBatch handler of the ingest loop: quality gate ->
    within-batch min-doc_id canonicalization -> bucketed-index probe
    (unseen hashes + doc_id improvements) -> append kept docs + grow the
    index. The kept dir stores ``h`` so readers reconcile to the global
    min doc_id per hash (``ingest_reconcile``); an improvement appends a
    new (h, doc_id) index row rather than rewriting — the index stays
    append-only and reads take the min. Factored so the multi-batch path
    is testable outside a stream too."""
    from pyspark.sql import Window

    from dbt_on_snowflake_spark.operators.textops import quality_score

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        kept = batch_df.filter(quality_score("text") > 0).withColumn(
            "h", F.md5("text")
        )
        w = Window.partitionBy("h")
        batch_canon = kept.withColumn(
            "canon", F.min("doc_id").over(w)
        ).filter(F.col("doc_id") == F.col("canon"))
        keep = ingest_probe_keep(
            spark, batch_canon, index_table
        ).localCheckpoint()  # one probe feeds both writes
        keep.select("doc_id", "lang", "source", "h").write.mode(
            "append"
        ).parquet(kept_dir)
        (
            keep.select("h", "doc_id")
            .write.mode("append")
            .format("parquet")
            .bucketBy(INGEST_INDEX_BUCKETS, "h")
            .sortBy("h")
            .saveAsTable(index_table)
        )
        spark.catalog.refreshTable(index_table)

    return handle


def ingest_reconcile(kept: DataFrame) -> DataFrame:
    """Collapse the append-only kept set to the canonical doc per hash
    (global min doc_id) — a superseded first-arrival row loses to the
    later-arriving smaller doc_id. One shuffle over the kept set (each
    hash appears once plus rare improvement rows), keyed by md5 so no
    skew."""
    from pyspark.sql import Window

    w = Window.partitionBy("h")
    return (
        kept.withColumn("canon", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "lang", "source")
    )


def _ingest_oracle() -> str:
    from dbt_on_snowflake_spark.operators.textops import quality_score_sql

    return f"""
    WITH k AS (
        SELECT doc_id, lang, source, md5(text) AS h
        FROM documents
        WHERE {quality_score_sql("text")} > 0
    )
    SELECT doc_id, lang, source FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS canon FROM k
    ) WHERE doc_id = canon
    """


@query(
    "corpus_ingest_streaming",
    oracle=None,  # set right below (late import avoids a module cycle)
)
def corpus_ingest_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION INGEST LOOP as one streaming pipeline: documents
    arrive as micro-batches; each batch (1) drops quality-gate failures
    at scan speed (hashed linear classifier), (2) exact-dedups survivors
    against a DURABLE md5 index — within-batch via a min-doc_id window,
    cross-batch via an index anti-join — and (3) appends the kept docs
    and grows the index. All cross-batch memory is the durable index
    (no Spark state to bound); at 100 TB the index is the same
    bucketed-table artifact batch dedup maintains, and the quality gate
    rides the scan. Canonicalization is ARRIVAL-ORDER-INDEPENDENT
    (advice r7): the index stores (h, doc_id) and the probe also keeps
    later arrivals with a smaller doc_id, so the read-side reconcile
    yields the global min-doc_id canon no matter how a multi-file
    source interleaves batches — bit-identical to the batch oracle."""
    import hashlib
    import tempfile

    from dbt_on_snowflake_spark.engine.fs import fs_delete
    from dbt_on_snowflake_spark.operators.dedup import _drop_managed_table

    suffix = hashlib.md5(f"ingest:{sf_dir}".encode()).hexdigest()[:8]
    index_table = f"ingest_md5_index_{suffix}"
    kept_dir = os.path.join(tempfile.gettempdir(), f"ingest_kept_{suffix}")
    fs_delete(spark, kept_dir)
    _drop_managed_table(spark, index_table)
    # the index is the corpus-sized side at 100 TB: BUCKET it by the
    # probe key so the per-batch probe reads it in place (all
    # exchanges land on the batch side) — same layout contract as the
    # MinHash band index (test_ingest_probe_no_index_shuffle pins it)
    (
        spark.createDataFrame([], "h string, doc_id long")
        .write.format("parquet")
        .bucketBy(INGEST_INDEX_BUCKETS, "h")
        .sortBy("h")
        .saveAsTable(index_table)
    )
    from dbt_on_snowflake_spark.engine.index_delete import mark_engine_dir

    mark_engine_dir(spark, index_table)  # ownership proof (pass 6 #4)

    handle = make_ingest_handler(spark, index_table, kept_dir)

    path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, path)  # cached footer (testdata)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    return ingest_reconcile(spark.read.parquet(kept_dir))


def _set_ingest_oracle() -> None:
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["corpus_ingest_streaming"].oracle = _ingest_oracle()


_set_ingest_oracle()


# ------------------------------------- streaming semantic dedup ingest


def make_semantic_ingest_handler(
    spark: SparkSession, kept_table: str, out_dir: str
):
    """foreachBatch handler for STREAMING SemDeDup: each micro-batch's
    vectors run the sequential greedy (vec_id order) against the durable
    per-cell kept set, newly kept vectors grow the index and land in the
    output. All heavy work is a per-cell COGROUPED applyInPandas kernel
    — (batch cells) cogrouped with (kept-index cells, restricted to the
    touched labels). The kept table is BUCKETED by label, so the
    cogroup's index side arrives label-clustered from disk with no
    exchange: the only per-batch shuffle is the batch side's
    repartition into the bucket layout — the same O(|batch|)-exchange
    contract as the exact-dedup ingest's md5 index
    (`test_semantic_ingest_no_index_shuffle`). The only cross-batch
    state is that durable table.

    ORDER CONTRACT (advice-r7 discipline, enforced not assumed): greedy
    dedup is arrival-order-dependent, so the registered oracle models
    vec_id-order arrival and the handler REJECTS a batch whose min
    vec_id does not exceed everything already indexed — an out-of-order
    source fails loudly instead of silently diverging. The watermark
    initializes from the index max on first batch, so a restarted
    stream keeps the contract."""
    import numpy as np

    from dbt_on_snowflake_spark.operators.similarity import (
        SEM_THRESHOLD,
        _round4_away,
    )

    state = {"max_id": None}
    thr = float(SEM_THRESHOLD)

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        batch = batch_df.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        ).localCheckpoint()
        bounds = batch.agg(
            F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi"),
            F.collect_set("label").alias("labels"),
        ).collect()[0]  # 1-row control plane
        if bounds.lo is None:
            return
        if state["max_id"] is None:
            prior = spark.table(kept_table).agg(
                F.max("vec_id").alias("m")
            ).collect()[0].m  # once per stream (restart recovery)
            state["max_id"] = -1 if prior is None else prior
        if bounds.lo <= state["max_id"]:
            raise ValueError(
                f"semantic ingest: batch min vec_id {bounds.lo} <= already-"
                f"indexed max {state['max_id']} — greedy dedup requires "
                "vec_id-ordered arrival (the registered oracle's contract)"
            )
        state["max_id"] = bounds.hi

        touched = sorted(bounds.labels)  # bounded: <= |cells|
        kept_new = semantic_ingest_prune(
            spark, batch, kept_table, touched
        ).localCheckpoint()  # one kernel pass feeds both writes
        (
            kept_new.write.mode("append")
            .format("parquet")
            .bucketBy(SEM_INGEST_BUCKETS, "label")
            .sortBy("label")
            .saveAsTable(kept_table)
        )
        spark.catalog.refreshTable(kept_table)
        kept_new.select("vec_id", "label").write.mode("append").parquet(out_dir)

    return handle


SEM_INGEST_BUCKETS = 16


def semantic_ingest_prune(
    spark: SparkSession, batch: DataFrame, kept_table: str, touched: list
) -> DataFrame:
    """One batch's greedy prune against the bucketed kept index:
    cogroup (batch cells) with (index cells for the touched labels);
    per cell, prev rows seed the kept matrix and new rows scan in
    vec_id order. Factored so the plan property (no index-side
    exchange) is pinnable outside a stream."""
    import numpy as np

    from dbt_on_snowflake_spark.operators.similarity import (
        SEM_THRESHOLD,
        _round4_away,
    )

    thr = float(SEM_THRESHOLD)
    prev = spark.table(kept_table).where(F.col("label").isin(list(touched)))

    def greedy(new_pdf, prev_pdf):
        import pandas as pd

        if len(new_pdf) == 0:
            return pd.DataFrame(
                {"vec_id": [], "label": [], "v": []}
            ).astype({"vec_id": "int64", "label": "int64"})
        V_new = np.stack(new_pdf["v"].to_numpy())
        order = np.argsort(new_pdf["vec_id"].to_numpy())
        kept_vecs = (
            [np.asarray(x, dtype=np.float64) for x in prev_pdf["v"]]
            if len(prev_pdf)
            else []
        )
        K = np.stack(kept_vecs) if kept_vecs else None
        knorms = (
            np.sqrt(np.cumsum(K * K, axis=1)[:, -1])
            if K is not None
            else None
        )
        nnorms = np.sqrt(np.cumsum(V_new * V_new, axis=1)[:, -1])
        out = []
        for row in order:
            v, nv = V_new[row], nnorms[row]
            if K is not None and len(K):
                d = np.cumsum(K * v[None, :], axis=1)[:, -1]
                cos = _round4_away(d / (knorms * nv))
                if (cos >= thr).any():
                    continue
            K = v[None, :] if K is None else np.vstack([K, v])
            knorms = (
                np.array([nv]) if knorms is None
                else np.append(knorms, nv)
            )
            out.append(row)
        keep = new_pdf.iloc[out]
        return pd.DataFrame(
            {
                "vec_id": keep["vec_id"].to_numpy(),
                "label": keep["label"].to_numpy(),
                "v": keep["v"],
            }
        )

    return (
        batch.groupBy("label")
        .cogroup(prev.groupBy("label"))
        .applyInPandas(greedy, "vec_id long, label long, v array<double>")
    )


@query(
    "ann_semantic_ingest_streaming",
    oracle=None,  # set right below (shares the greedy recursion shape)
)
def ann_semantic_ingest_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SemDeDup — the ingest-time semantic gate: embedding
    micro-batches arrive in vec_id order; each batch greedy-prunes
    against the durable per-cell kept set (coarse quantizer trained
    offline = the centroid table; cells = IVF labels) and the kept
    vectors grow the index. Because greedy is prefix-stable, batch
    boundaries cannot change the result: the whole stream equals ONE
    sequential scan — which is exactly what the DuckDB oracle replays
    as a recursive CTE ranked by vec_id. Out-of-order sources are
    rejected at the handler (see make_semantic_ingest_handler), so the
    oracle's order assumption is enforced, not hoped for."""
    import hashlib
    import tempfile

    from dbt_on_snowflake_spark.engine.fs import fs_delete
    from dbt_on_snowflake_spark.operators.dedup import _drop_managed_table
    suffix = hashlib.md5(f"semingest:{sf_dir}".encode()).hexdigest()[:8]
    kept_table = f"sem_ingest_kept_{suffix}"
    out_dir = os.path.join(tempfile.gettempdir(), f"sem_ingest_out_{suffix}")
    fs_delete(spark, out_dir)
    _drop_managed_table(spark, kept_table)
    # BUCKETED by cell so each batch's cogroup reads the index in place
    # (no index-side exchange — the md5-ingest layout contract)
    (
        spark.createDataFrame([], "vec_id long, label long, v array<double>")
        .write.format("parquet")
        .bucketBy(SEM_INGEST_BUCKETS, "label")
        .sortBy("label")
        .saveAsTable(kept_table)
    )
    from dbt_on_snowflake_spark.engine.index_delete import mark_engine_dir

    mark_engine_dir(spark, kept_table)  # ownership proof (pass 6 #4)
    # cells come pre-assigned (`label`): the coarse quantizer is a
    # trained offline artifact in this pipeline (build_ann_index's
    # centroid table would do the assignment for raw vectors)
    handle = make_semantic_ingest_handler(spark, kept_table, out_dir)

    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = parquet_schema(spark, path)  # cached footer (testdata)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.read.parquet(out_dir).select("vec_id", "label")


def _semantic_ingest_oracle() -> str:
    from dbt_on_snowflake_spark.operators.dedup import COSINE_SQL
    from dbt_on_snowflake_spark.operators.similarity import SEM_THRESHOLD

    return f"""
    WITH RECURSIVE e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY label ORDER BY vec_id ASC
        ) AS rnk
        FROM e
    ),
    g AS (
        SELECT label, 0::BIGINT AS rnk, []::BIGINT[] AS kept_ids
        FROM (SELECT DISTINCT label FROM ranked)
        UNION ALL
        SELECT r.label, g.rnk + 1,
               CASE WHEN EXISTS (
                    SELECT 1 FROM ranked k
                    WHERE k.label = r.label
                      AND list_contains(g.kept_ids, k.vec_id)
                      AND ROUND({COSINE_SQL.format(a="k.v", b="r.v")}, 4)
                          >= {SEM_THRESHOLD}
               ) THEN g.kept_ids
               ELSE list_append(g.kept_ids, r.vec_id) END
        FROM g JOIN ranked r ON r.label = g.label AND r.rnk = g.rnk + 1
    ),
    final_g AS (
        SELECT label, kept_ids FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY label ORDER BY rnk DESC
            ) AS rr FROM g
        ) WHERE rr = 1
    )
    SELECT e.vec_id, e.label
    FROM e JOIN final_g f ON f.label = e.label
    WHERE list_contains(f.kept_ids, e.vec_id)
    """


def _set_semantic_ingest_oracle() -> None:
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["ann_semantic_ingest_streaming"].oracle = _semantic_ingest_oracle()


_set_semantic_ingest_oracle()


# ------------------------------------------------- top-N per window (rank
# at read: ranking is not expressible inside a streaming agg, so the
# stream materializes windowed counts and the rank runs over the SINK —
# the standard serving split for "trending items" dashboards)

TRENDING_TOP_N = 3


@query(
    "t_events_topn_types_streaming",
    oracle=f"""
    WITH counts AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
               event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    )
    SELECT hour_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY hour_start
            ORDER BY n_events DESC, event_type ASC
        ) AS rk
        FROM counts
    ) WHERE rk <= {TRENDING_TOP_N}
    """,
)
def t_events_topn_types_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trending event types: top-{TRENDING_TOP_N} per hourly window,
    computed as a Structured Streaming windowed count (complete mode,
    availableNow) RANKED AT READ over the materialized result — per-key
    ranking inside a streaming aggregation isn't expressible, and the
    sink table is already window-aggregated (|hours| x |event types|
    rows), so the rank window costs nothing at any corpus scale. The
    whole pipeline hash-matches the batch oracle."""
    s = events_stream(spark, sf_dir)
    return _rank_trending(run_to_table(_trending_counts(s), spark, "complete"))


def _trending_counts(s: DataFrame) -> DataFrame:
    return s.groupBy(
        F.window("ts", "1 hour").start.alias("hour_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))


def _rank_trending(counts: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return counts.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= TRENDING_TOP_N)


def run_update_log(
    counts: DataFrame,
    spark: SparkSession,
    tag: str = "",
    *,
    keys: list[str] | None = None,
    merge: dict[str, str] | None = None,
) -> DataFrame:
    """Drive an update-mode streaming aggregate into a DURABLE
    append-only key log (foreachBatch -> parquet append) and return the
    raw log: each micro-batch appends only the keys it changed, so a
    key updated across batches appears once per update — the
    merge-on-read sink shape (the Delta/Hudi pattern without the table
    format). The in-memory sink can't model this: Spark's memory sink
    compacts update-mode output to the latest batch, hiding exactly the
    version-log semantics the reader must resolve.

    The log lives at a DETERMINISTIC per-plan path under the warehouse
    dir and is replaced on each invocation — repeated bench/parity runs
    reuse one directory instead of leaking a fresh tempdir per call
    (r10 review); in production the log is the durable sink itself and
    a compaction cycle folds it: pass ``keys`` + ``merge`` (column ->
    idempotent agg name, e.g. ``{"n_events": "max"}``) and the log
    self-describes its fold in a ``_merge.json`` sidecar that
    ``engine/index_maintenance.fold_update_log`` — and the
    ``compact --indexes`` sweep — resolve without knowing the query."""
    import hashlib
    import json
    import posixpath

    from dbt_on_snowflake_spark.engine.fs import fs_create_atomic, fs_delete, fs_list

    # warehouse paths go through the engine fs helpers, never os/shutil
    # (r10 advice, streaming/__init__.py:623): the warehouse may be an
    # object store — same posture as the maintenance sweep that folds
    # this very log
    wh = spark.conf.get("spark.sql.warehouse.dir")
    # tag (e.g. the source dir) keys the log per corpus: the returned
    # DataFrame is lazy, so a later invocation for a DIFFERENT corpus
    # must not replace a log a pending read still points at
    suffix = hashlib.md5(
        f"{tag}|{counts.schema}".encode()
    ).hexdigest()[:8]
    log = posixpath.join(wh, f"topn_updatelog_{suffix}")
    fs_delete(spark, log)
    if keys and merge:
        # hadoop create() makes the parent dirs; atomic-visible sidecar
        fs_create_atomic(
            spark,
            posixpath.join(log, "_merge.json"),
            json.dumps({"keys": keys, "merge": merge}).encode(),
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(log)

    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not any(
        n.endswith(".parquet") for n in fs_list(spark, log)
    ):  # zero-batch degenerate source: preserve the schema
        return spark.createDataFrame([], counts.schema)
    return spark.read.parquet(log)


@query(
    "t_events_topn_types_update_streaming",
    oracle=None,  # set below
)
def t_events_topn_types_update_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SCALE-SAFE form of ``t_events_topn_types_streaming`` (r9
    verdict "What's wrong" #4): complete mode rewrites the whole sink
    every trigger, so at a months-long event horizon the per-trigger
    sink write grows unboundedly. UPDATE mode emits only the keys each
    micro-batch changed — per-trigger sink IO is O(changed keys) — and
    the durable sink is a versioned key LOG resolved at read
    (merge-on-read): the windowed count is monotone per (hour_start,
    event_type), so a key's current value is MAX over its logged
    versions — one keyed aggregate at read, then the same rank-at-read
    as the complete twin. Both variants hash-match the same batch
    oracle; the multi-batch version-log semantics are pinned by
    ``test_update_mode_trending_merges_versions``. A compaction cycle
    periodically folds the log — ``compact --indexes`` resolves the
    ``_merge.json`` sidecar declared here and rewrites the log to one
    row per key, read-identical by merge idempotence
    (``test_fold_update_log_preserves_merge_read``)."""
    s = events_stream(spark, sf_dir)
    raw = run_update_log(
        _trending_counts(s),
        spark,
        tag=sf_dir,
        keys=["hour_start", "event_type"],
        merge={"n_events": "max"},
    )
    merged = raw.groupBy("hour_start", "event_type").agg(
        F.max("n_events").alias("n_events")
    )
    return _rank_trending(merged)


def _set_topn_update_oracle() -> None:
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["t_events_topn_types_update_streaming"].oracle = QUERIES[
        "t_events_topn_types_streaming"
    ].oracle


_set_topn_update_oracle()
