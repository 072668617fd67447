"""Corpus-preparation pipeline operators over ``documents`` (SURVEY §7.5
— the end-to-end shapes a training-data pipeline runs on top of the
primitive dedup/quality/lang operators):

- ``corpus_clean_pipeline``    — the canonical C4/Gopher-style cleaning
  funnel: language filter + length filter + quality threshold + exact
  dedup canonicalization, composed into one pass with per-rule flags.
- ``corpus_sample_stratified`` — deterministic hash-based stratified
  sampling (upsample English, downsample the tail) — the data-mixing
  primitive; a pure narrow map, no shuffle at any scale.
- ``text_contamination``       — benchmark-contamination check: shingle
  overlap between corpus documents and a held-out set via an inverted-
  index join (never all-pairs).

All three are built-in JVM expressions with bit-identical DuckDB oracles.

Scale posture: the funnel is one window shuffle keyed by a uniform
128-bit content hash (skew-free); sampling is shuffle-free; contamination
joins on shingle keys (hot stop-phrases are AQE skew-split territory) and
in production the benchmark side is a small fixed set — broadcastable,
but left unhinted here because the synthetic stand-in grows with SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.functions import sorted_set_str
from dbt_on_snowflake_spark.operators.dedup import SHINGLES_CTE, shingle_df
from dbt_on_snowflake_spark.operators.textops import (
    _SW_LIST_SQL,
    _STOPWORDS,
    bpe_token_count,
    bpe_token_count_sql,
)
from dbt_on_snowflake_spark.registry import QUERIES, query
from dbt_on_snowflake_spark.testdata import table

ALLOWED_LANGS = ("en", "de", "fr", "es")
MIN_TOKENS = 30
MIN_QUALITY = 0.5

_LANGS_SQL = ", ".join(f"'{l}'" for l in ALLOWED_LANGS)


@query(
    "corpus_clean_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, lang, text,
               string_split(text, ' ') AS toks,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM documents
    ),
    m AS (
        SELECT doc_id, source, lang, canonical_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, x -> list_contains({_SW_LIST_SQL}, x)))
                   AS n_stopwords,
               len(list_filter(toks, x -> length(x) >= 3 AND length(x) <= 12))
                   AS n_well_sized
        FROM t
    ),
    q AS (
        SELECT doc_id, source, lang, canonical_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(0.5 * (CAST(n_well_sized AS DOUBLE) / n_tokens)
                     + 0.5 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 5.0,
                                   1.0), 4) AS quality_score
        FROM m
    )
    SELECT doc_id, source, lang, n_tokens, quality_score,
           lang IN ({_LANGS_SQL}) AS pass_lang,
           n_tokens >= {MIN_TOKENS} AS pass_length,
           quality_score >= {MIN_QUALITY} AS pass_quality,
           doc_id = canonical_id AS is_canonical,
           (lang IN ({_LANGS_SQL}) AND n_tokens >= {MIN_TOKENS}
            AND quality_score >= {MIN_QUALITY} AND doc_id = canonical_id)
               AS kept
    FROM q
    """,
    headline=True,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning funnel every LLM corpus goes through, as ONE Spark
    pass: per-document rule flags (language allowlist, minimum length,
    quality threshold — same score expression as ``text_quality`` — and
    exact-dedup canonical representative) plus the combined ``kept`` bit.

    One shuffle total: the canonicalization window partitions by
    md5(text) — a uniform 128-bit key, skew-free even with hot documents.
    Everything else is narrow, codegen'd column work."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_sized = F.size(
        F.filter(toks, lambda x: (F.length(x) >= 3) & (F.length(x) <= 12))
    )
    score = F.round(
        0.5 * (n_sized.cast("double") / n_tokens)
        + 0.5 * F.least(n_stop.cast("double") / n_tokens * 5.0, F.lit(1.0)),
        4,
    )
    w = Window.partitionBy(F.md5("text"))
    pass_lang = F.col("lang").isin(*ALLOWED_LANGS)
    pass_length = F.col("n_tokens") >= MIN_TOKENS
    pass_quality = F.col("quality_score") >= MIN_QUALITY
    is_canonical = F.col("doc_id") == F.col("canonical_id")
    return (
        d.select(
            "doc_id",
            "source",
            "lang",
            n_tokens.cast("long").alias("n_tokens"),
            score.alias("quality_score"),
            F.min("doc_id").over(w).alias("canonical_id"),
        )
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            "quality_score",
            pass_lang.alias("pass_lang"),
            pass_length.alias("pass_length"),
            pass_quality.alias("pass_quality"),
            is_canonical.alias("is_canonical"),
            (pass_lang & pass_length & pass_quality & is_canonical).alias(
                "kept"
            ),
        )
    )


# Per-language sampling rates (percent): the "data mixing" knob — keep
# most English, half the other allowed languages, a fifth of the tail.
SAMPLE_RATES = {"en": 75, "de": 50, "fr": 50, "es": 50}
DEFAULT_RATE = 20

_RATE_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{l}' THEN {r}" for l, r in SAMPLE_RATES.items())
    + f" ELSE {DEFAULT_RATE} END"
)


@query(
    "corpus_sample_stratified",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, source, lang,
               CAST(('0x' || substring(md5(source || '#' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS BIGINT)
                   AS bucket,
               CAST({_RATE_CASE_SQL} AS BIGINT) AS rate_pct
        FROM documents
    )
    SELECT doc_id, source, lang, bucket, rate_pct
    FROM b
    WHERE bucket < rate_pct
    """,
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: md5(source#doc_id) maps each doc
    to a uniform bucket in [0,100); a doc is kept iff bucket < its
    language's rate. Reproducible across runs/engines (no RNG state), and
    a pure narrow map — zero shuffle at any scale, which is why hash
    sampling (not ``df.sample``) is the production idiom for corpus
    mixing."""
    d = table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("source"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    ).cast("long")
    rate = F.lit(DEFAULT_RATE)
    for lang, r in reversed(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        d.select(
            "doc_id",
            "source",
            "lang",
            bucket.alias("bucket"),
            rate.cast("long").alias("rate_pct"),
        )
        .filter(F.col("bucket") < F.col("rate_pct"))
    )


BENCHMARK_MOD = 97  # doc_id % 97 == 3 -> stand-in "benchmark" docs
CONTAMINATION_MIN_SHARED = 1


@query(
    "text_contamination",
    oracle=f"""
    WITH {SHINGLES_CTE},
    bench AS (
        SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCHMARK_MOD} = 3
    ),
    corpus AS (
        SELECT doc_id, sh FROM sh WHERE doc_id % {BENCHMARK_MOD} <> 3
    ),
    totals AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
    ),
    shared AS (
        SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.sh = b.sh
        GROUP BY c.doc_id
    )
    SELECT s.doc_id,
           s.n_shared,
           t.n_shingles,
           ROUND(CAST(s.n_shared AS DOUBLE) / t.n_shingles, 4)
               AS contamination_ratio
    FROM shared s JOIN totals t ON s.doc_id = t.doc_id
    WHERE s.n_shared >= {CONTAMINATION_MIN_SHARED}
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents share word-
    trigram shingles with a held-out benchmark set (stand-in: doc_id %
    97 == 3), and what fraction of their shingles is contaminated.

    Inverted-index shape: corpus shingles JOIN benchmark shingle set on
    the shingle key — cost is (shingle rows) + (matches), never
    |corpus| x |benchmark|. In production the benchmark set is a small
    FIXED corpus (broadcastable); here it grows with SF, so no hint —
    AQE broadcasts it when it fits."""
    sh = shingle_df(spark, sf_dir)
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 3
    bench = sh.filter(is_bench).select("sh").distinct()
    corpus = sh.filter(~is_bench)
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        corpus.join(bench, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAMINATION_MIN_SHARED)
    )
    return shared.join(totals, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_shingles",
        F.round(F.col("n_shared").cast("double") / F.col("n_shingles"), 4).alias(
            "contamination_ratio"
        ),
    )


# ------------------------------------------------- token-budget selection

BUDGET_FRACTION = 0.5  # fraction of each language's token mass to keep


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    m AS (
        SELECT doc_id, lang, len(toks) AS n_tokens,
               len(list_filter(toks, x -> list_contains({_SW_LIST_SQL}, x)))
                   AS n_stopwords,
               len(list_filter(toks, x -> length(x) >= 3 AND length(x) <= 12))
                   AS n_well_sized
        FROM t
    ),
    q AS (
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(0.5 * (CAST(n_well_sized AS DOUBLE) / n_tokens)
                     + 0.5 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 5.0,
                                   1.0), 4) AS quality_score
        FROM m
    ),
    w AS (
        SELECT doc_id, lang, n_tokens, quality_score,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY quality_score DESC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang) AS BIGINT)
                   AS lang_tokens
        FROM q
    )
    SELECT doc_id, lang, n_tokens, quality_score, cum_tokens
    FROM w
    WHERE cum_tokens - n_tokens < {BUDGET_FRACTION} * lang_tokens
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection — the training-mix curation step:
    per language, take documents in quality order (same score expression
    as ``text_quality``; doc_id tie-break for determinism) until the
    running token count reaches BUDGET_FRACTION (50%) of that language's
    token mass. A document is kept if the budget was not yet exhausted
    when it was reached (the crossing document is included), so every
    language contributes at least its best document.

    Distributed shape: one shuffle, keyed by lang — the quality ordering
    and both running/total sums ride the same window partitioning. At
    100 TB a per-language full sort is real but unavoidable for exact
    top-quality-first selection; the approximate production variant
    (quality-histogram -> threshold, then a narrow filter) drops the sort
    and is a two-pass derivation of the same cutoff — documented here as
    the scale fallback, exact form kept because it is oracle-checkable.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_sized = F.size(
        F.filter(toks, lambda x: (F.length(x) >= 3) & (F.length(x) <= 12))
    )
    score = F.round(
        0.5 * (n_sized.cast("double") / n_tokens)
        + 0.5 * F.least(n_stop.cast("double") / n_tokens * 5.0, F.lit(1.0)),
        4,
    )
    q = d.select(
        "doc_id",
        "lang",
        n_tokens.cast("long").alias("n_tokens"),
        score.alias("quality_score"),
    )
    order = Window.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    w = q.select(
        "doc_id",
        "lang",
        "n_tokens",
        "quality_score",
        F.sum("n_tokens")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_tokens"),
        F.sum("n_tokens").over(Window.partitionBy("lang")).alias("lang_tokens"),
    )
    return w.filter(
        F.col("cum_tokens") - F.col("n_tokens")
        < BUDGET_FRACTION * F.col("lang_tokens")
    ).select("doc_id", "lang", "n_tokens", "quality_score", "cum_tokens")


# Histogram granularity for the scale variant: quality in [0,1] rounded to
# 2 decimals -> at most 101 buckets per language.
HIST_BUCKETS = 100


@query(
    "corpus_token_budget_hist",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    m AS (
        SELECT doc_id, lang, len(toks) AS n_tokens,
               len(list_filter(toks, x -> list_contains({_SW_LIST_SQL}, x)))
                   AS n_stopwords,
               len(list_filter(toks, x -> length(x) >= 3 AND length(x) <= 12))
                   AS n_well_sized
        FROM t
    ),
    q AS (
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(0.5 * (CAST(n_well_sized AS DOUBLE) / n_tokens)
                     + 0.5 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 5.0,
                                   1.0), 4) AS quality_score
        FROM m
    ),
    b AS (
        SELECT doc_id, lang, n_tokens, quality_score,
               CAST(floor(quality_score * {HIST_BUCKETS}) AS BIGINT) AS bucket
        FROM q
    ),
    hist AS (
        SELECT lang, bucket, CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens
        FROM b GROUP BY lang, bucket
    ),
    cum AS (
        SELECT lang, bucket, bucket_tokens,
               CAST(SUM(bucket_tokens) OVER (
                   PARTITION BY lang ORDER BY bucket DESC
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_tokens,
               CAST(SUM(bucket_tokens) OVER (PARTITION BY lang) AS BIGINT)
                   AS lang_tokens
        FROM hist
    ),
    thresholds AS (
        SELECT lang, MIN(bucket) AS min_bucket
        FROM cum
        WHERE cum_tokens - bucket_tokens < {BUDGET_FRACTION} * lang_tokens
        GROUP BY lang
    )
    SELECT b.doc_id, b.lang, b.n_tokens, b.quality_score, b.bucket
    FROM b JOIN thresholds th ON b.lang = th.lang
    WHERE b.bucket >= th.min_bucket
    """,
)
def corpus_token_budget_hist(
    spark: SparkSession, sf_dir: str, n_tokens_col=None
) -> DataFrame:
    """The 100 TB-shape token-budget selection promised by
    ``corpus_token_budget``'s docstring: replace the per-language full
    sort of the corpus with a quality HISTOGRAM threshold.

    Pass 1 aggregates token mass per (lang, quality-bucket) — a
    HashAggregate with fixed-size state (<= 101 buckets/language) and
    map-side partial combine, so the only corpus-sized shuffle carries
    pre-aggregated (lang, bucket, sum) rows, not documents. Pass 2 runs
    the cumulative/threshold logic on the TINY histogram (the one Window
    in this plan sorts <= langs x 101 rows), producing one threshold
    bucket per language: the lowest bucket still reached before the
    budget was exhausted (crossing bucket fully included). Pass 3 joins
    the per-doc bucket column against the broadcast threshold table and
    filters — a narrow, shuffle-free pass over the corpus.

    Vs the exact variant: selection granularity is the bucket, not the
    document — the crossing bucket is kept whole, so kept token mass is
    >= BUDGET_FRACTION of each language's mass and overshoots by at most
    one bucket's mass. The histogram algorithm itself is deterministic
    and bit-exact against the DuckDB oracle above.

    ``n_tokens_col`` swaps the whitespace token-MASS proxy for a
    faithful tokenizer count (``corpus_token_budget_hist_bpe``); the
    quality score stays the canonical ``text_quality`` definition."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_sized = F.size(
        F.filter(toks, lambda x: (F.length(x) >= 3) & (F.length(x) <= 12))
    )
    score = F.round(
        0.5 * (n_sized.cast("double") / n_tokens)
        + 0.5 * F.least(n_stop.cast("double") / n_tokens * 5.0, F.lit(1.0)),
        4,
    )
    mass = n_tokens if n_tokens_col is None else n_tokens_col
    b = d.select(
        "doc_id",
        "lang",
        mass.cast("long").alias("n_tokens"),
        score.alias("quality_score"),
        F.floor(score * HIST_BUCKETS).cast("long").alias("bucket"),
    )
    hist = b.groupBy("lang", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    cum_w = (
        Window.partitionBy("lang")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "lang",
        "bucket",
        "bucket_tokens",
        F.sum("bucket_tokens").over(cum_w).alias("cum_tokens"),
        F.sum("bucket_tokens")
        .over(Window.partitionBy("lang"))
        .alias("lang_tokens"),
    )
    thresholds = (
        cum.filter(
            F.col("cum_tokens") - F.col("bucket_tokens")
            < BUDGET_FRACTION * F.col("lang_tokens")
        )
        .groupBy("lang")
        .agg(F.min("bucket").alias("min_bucket"))
    )
    return (
        b.join(F.broadcast(thresholds), "lang")
        .filter(F.col("bucket") >= F.col("min_bucket"))
        .select("doc_id", "lang", "n_tokens", "quality_score", "bucket")
    )


# ------------------------------------------------------- mixture sampling

# Target training-mix shares in ppm: three premium sources upweighted,
# the long tail split evenly (3*150000 + 17*32352 = 999984 ~ 1.0).
MIX_PREMIUM = ("src0", "src1", "src2")
MIX_PREMIUM_PPM = 150_000
MIX_DEFAULT_PPM = 32_352
MIX_BUDGET_PCT = 40  # sample down to 40% of the corpus overall

_MIX_TARGET_SQL = (
    "CASE WHEN source IN ("
    + ", ".join(f"'{s}'" for s in MIX_PREMIUM)
    + f") THEN {MIX_PREMIUM_PPM} ELSE {MIX_DEFAULT_PPM} END"
)


@query(
    "corpus_mixture_sample",
    oracle=f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
    ),
    total AS (SELECT COUNT(*) AS n FROM documents),
    rates AS (
        SELECT source,
               CAST(least(1000000,
                    (({_MIX_TARGET_SQL}) * ((n * {MIX_BUDGET_PCT}) // 100))
                        // cnt) AS BIGINT) AS accept_ppm
        FROM counts, total
    )
    SELECT d.doc_id, d.source, r.accept_ppm,
           CAST(('0x' || substring(md5('mix#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                % 1000000 AS BIGINT) AS bucket_ppm
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ('0x' || substring(md5('mix#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
          % 1000000 < r.accept_ppm
    """,
)
def corpus_mixture_sample(
    spark: SparkSession, sf_dir: str, weight_col=None
) -> DataFrame:
    """Data MIXING for a training run: hit a declared per-source target
    mixture under a global token/document budget. Per-source acceptance
    rate = min(1, target_share x budget / available) computed from the
    actual source counts, then a deterministic md5-bucket filter — the
    same reproducible hash-sampling idiom as ``corpus_sample_stratified``
    (no RNG state, identical keep-set on every engine and every run).

    Scale: one tiny groupBy(source) aggregate (map-side combined, a few
    dozen rows) broadcast back onto a narrow scan-speed filter — the
    corpus itself is never shuffled. An under-supplied source (available
    < its share of the budget) caps at keep-everything, exactly how
    production mixers degrade.

    ``weight_col`` changes what the mixture is measured IN: None counts
    documents; a token-count expression over ``documents`` makes rates
    budget token MASS instead (``corpus_mixture_sample_bpe``). Selection
    stays per-document either way (the md5 bucket)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.lit(1) if weight_col is None else weight_col)
        .cast("long")
        .alias("_w"),
    )
    counts = d.groupBy("source").agg(F.sum("_w").alias("cnt"))
    total = d.agg(F.sum("_w").alias("n"))
    target = F.when(
        F.col("source").isin(*MIX_PREMIUM), F.lit(MIX_PREMIUM_PPM)
    ).otherwise(F.lit(MIX_DEFAULT_PPM))
    # all-integer rate arithmetic (`div`, like the oracle's `//`): the
    # ppm x budget product exceeds double precision at real corpus sizes
    rates = counts.crossJoin(F.broadcast(total)).select(
        "source",
        F.expr(
            f"least(1000000L, (({_MIX_TARGET_SQL})"
            f" * ((n * {MIX_BUDGET_PCT}) div 100)) div cnt)"
        )
        .cast("long")
        .alias("accept_ppm"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix#"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    ).cast("long")
    return (
        d.join(F.broadcast(rates), "source")
        .withColumn("bucket_ppm", bucket)
        .filter(F.col("bucket_ppm") < F.col("accept_ppm"))
        .select("doc_id", "source", "accept_ppm", "bucket_ppm")
    )


# ------------------------------------------------------ sequence packing

PACK_SEQ_LEN = 2048  # token budget per training sequence
PACK_CHUNK_DOCS = 256  # doc_id-range width of one packing chunk


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // {PACK_SEQ_LEN} AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {PACK_SEQ_LEN} AS BIGINT) AS offset_in_pack
    FROM c
    """,
)
def corpus_pack_sequences(
    spark: SparkSession, sf_dir: str, n_tokens_col=None
) -> DataFrame:
    """SEQUENCE PACKING for training: assign every document a position
    in a per-language stream of fixed PACK_SEQ_LEN-token packs — doc goes to
    the pack where its START token falls (pack_id = floor(prefix_tokens
    / seq_len), offset = prefix_tokens % seq_len). Start-based
    assignment is the deterministic contract: a doc straddling a
    boundary overflows its pack and the loader splits/truncates at
    materialization (standard practice); greedy restart-at-boundary
    packing is inherently sequential and buys ~2% fewer pad tokens for
    an unparallelizable scan.

    TWO-LEVEL PREFIX SUM (the scale shape). A naive
    ``Window.partitionBy(lang).orderBy(doc_id)`` funnels a language's
    ENTIRE token stream through one task — with ~30 languages that is 30
    sorters for 100 TB. Instead:

      1. chunk by ``doc_id div PACK_CHUNK_DOCS`` — order-preserving
         ranges, so chunk k's docs all precede chunk k+1's;
      2. per-(lang, chunk) token sums — map-side-combined aggregate whose
         shuffle is ~|langs|x|chunks| rows, not the corpus;
      3. exclusive prefix sum of chunk sums per language — a window over
         the TINY chunk table (single partition per language is fine:
         rows = chunk count, not doc count);
      4. broadcast the chunk start-offsets back and run the intra-chunk
         window partitioned by (lang, chunk): every chunk is an
         independent task, so within-language parallelism =
         corpus_size / PACK_CHUNK_DOCS.

    Identical output to the single-window form (the DuckDB oracle IS the
    single-window form) because start = chunk_start + local_prefix. All
    arithmetic is integer (``div`` / ``%`` on BIGINT) — no float
    round-trip to diverge from the oracle past 2^53 cumulative tokens.

    ``n_tokens_col`` swaps the whitespace token proxy for a faithful
    tokenizer count (see ``corpus_pack_sequences_bpe``)."""
    if n_tokens_col is None:
        n_tokens_col = F.size(F.split("text", " "))
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        n_tokens_col.cast("long").alias("n_tokens"),
    ).withColumn("pack_chunk", F.expr(f"doc_id div {PACK_CHUNK_DOCS}"))

    # (2) tiny per-chunk totals, then (3) per-language exclusive prefix
    # over chunks — tiny: one row per (lang, chunk-range).
    w_chunks = (
        Window.partitionBy("lang")
        .orderBy("pack_chunk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunk_offsets = (
        t.groupBy("lang", "pack_chunk")
        .agg(F.sum("n_tokens").alias("chunk_tokens"))
        .select(
            "lang",
            "pack_chunk",
            (F.sum("chunk_tokens").over(w_chunks) - F.col("chunk_tokens")).alias(
                "chunk_start"
            ),
        )
    )

    # (4) intra-chunk prefix sum — one independent task per (lang, chunk).
    w_local = (
        Window.partitionBy("lang", "pack_chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = t.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    return (
        local.join(F.broadcast(chunk_offsets), ["lang", "pack_chunk"])
        .withColumn(
            "start_tok",
            (F.col("chunk_start") + F.col("local_cum") - F.col("n_tokens")).cast(
                "long"
            ),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"start_tok div {PACK_SEQ_LEN}").alias("pack_id"),
            (F.col("start_tok") % PACK_SEQ_LEN).alias("offset_in_pack"),
        )
    )

# ------------------------------------------------------ packed shards

PACKS_PER_SHARD = 64  # 64 packs x 2048 tokens ~ 128k tokens per shard


@query(
    "corpus_pack_shards",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM t
    ),
    packed AS (
        SELECT doc_id, lang, n_tokens,
               CAST((cum - n_tokens) // {PACK_SEQ_LEN} AS BIGINT) AS pack_id
        FROM c
    )
    SELECT lang,
           CAST(pack_id // {PACKS_PER_SHARD} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT doc_id)), ',') AS doc_ids
    FROM packed
    GROUP BY lang, CAST(pack_id // {PACKS_PER_SHARD} AS BIGINT)
    """,
)
def corpus_pack_shards(
    spark: SparkSession, sf_dir: str, n_tokens_col=None
) -> DataFrame:
    """SHARD MANIFEST for packed training data: group pack assignments
    into size-bounded shards (PACKS_PER_SHARD consecutive packs per
    language ~ one loader file) and report each shard's doc list + token
    sum — the manifest a writer materializes and a loader indexes by.

    Plan: the two-level prefix sum of ``corpus_pack_sequences`` followed
    by ONE hash aggregation on (lang, shard_id). n_packs uses
    size(collect_set) — the per-group domain is bounded by
    PACKS_PER_SHARD(+1 straddle), so no Expand/distinct-agg fallback and
    no unbounded buffer. No global sort anywhere (pinned by
    test_pack_shards_no_global_sort). ``n_tokens_col`` flips the token
    scheme like the rest of the family."""
    packed = corpus_pack_sequences(
        spark, sf_dir, n_tokens_col=n_tokens_col
    ).withColumn("shard_id", F.expr(f"pack_id div {PACKS_PER_SHARD}"))
    return packed.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.size(F.collect_set("pack_id")).cast("long").alias("n_packs"),
        F.sum("n_tokens").alias("shard_tokens"),
        sorted_set_str("doc_id", "doc_ids"),
    )


def write_pack_shards(
    spark: SparkSession,
    packed: DataFrame,
    path: str,
) -> int:
    """Materialize packed documents as training shards: parquet
    partitioned by (lang, shard_id), rows clustered one-shard-per-task
    and ordered by (pack_id, offset_in_pack) WITHIN each shard — the
    layout a loader streams contiguously.

    Scale contract (pinned by test_pack_shards_no_global_sort):
    - NO global sort: repartition on (lang, shard_id) is a hash
      exchange; the (pack_id, offset) order is sortWithinPartitions —
      per-task spill-safe sort, no rangepartitioning pass over the
      corpus.
    - Incremental-friendly: dynamic partition overwrite touches only
      the (lang, shard_id) partitions present in ``packed`` — a new
      batch (new pack ids => new shard ids) appends new shard dirs and
      leaves existing shards' files byte-identical, the same per-batch
      idempotence contract as the engine's insert_overwrite path
      (engine/runner.py).
    """
    from pyspark.sql import Observation

    df = (
        packed.withColumn("shard_id", F.expr(f"pack_id div {PACKS_PER_SHARD}"))
        .repartition("lang", "shard_id")
        .sortWithinPartitions("pack_id", "offset_in_pack")
    )
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang", "shard_id")
        .parquet(path)
    )
    # empty-build fallback: a zero-task write posts no metrics row
    # (testdata.observed_row), and zero tasks wrote exactly zero rows —
    # return 0 directly. Re-counting the PATH here would be wrong under
    # dynamic partition overwrite: earlier batches' partitions survive
    # by design, so a path count reports their rows as this call's
    # (review pass r17 #1).
    from dbt_on_snowflake_spark.testdata import observed_row

    return int(observed_row(obs, lambda: {"rows": 0})["rows"])


# ------------------------------- tokenizer-faithful twins (frozen BPE)

# The whitespace token count above is a PROXY that skews per-language
# (CJK has no spaces; code tokenizes dense). These twins re-key the
# budget / mixture / packing family on the frozen-merges BPE count from
# ``textops`` — the count a training run actually budgets by — via the
# operators' token-column parameter. The whitespace paths are untouched.

_BPE_N_TOKENS_SQL = f"CAST({bpe_token_count_sql('text')} AS BIGINT)"


@query(
    "corpus_token_budget_hist_bpe",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               {_BPE_N_TOKENS_SQL} AS bpe_tokens
        FROM documents
    ),
    m AS (
        SELECT doc_id, lang, bpe_tokens, len(toks) AS ws_tokens,
               len(list_filter(toks, x -> list_contains({_SW_LIST_SQL}, x)))
                   AS n_stopwords,
               len(list_filter(toks, x -> length(x) >= 3 AND length(x) <= 12))
                   AS n_well_sized
        FROM t
    ),
    q AS (
        SELECT doc_id, lang, CAST(bpe_tokens AS BIGINT) AS n_tokens,
               ROUND(0.5 * (CAST(n_well_sized AS DOUBLE) / ws_tokens)
                     + 0.5 * least(CAST(n_stopwords AS DOUBLE) / ws_tokens * 5.0,
                                   1.0), 4) AS quality_score
        FROM m
    ),
    b AS (
        SELECT doc_id, lang, n_tokens, quality_score,
               CAST(floor(quality_score * {HIST_BUCKETS}) AS BIGINT) AS bucket
        FROM q
    ),
    hist AS (
        SELECT lang, bucket, CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens
        FROM b GROUP BY lang, bucket
    ),
    cum AS (
        SELECT lang, bucket, bucket_tokens,
               CAST(SUM(bucket_tokens) OVER (
                   PARTITION BY lang ORDER BY bucket DESC
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_tokens,
               CAST(SUM(bucket_tokens) OVER (PARTITION BY lang) AS BIGINT)
                   AS lang_tokens
        FROM hist
    ),
    thresholds AS (
        SELECT lang, MIN(bucket) AS min_bucket
        FROM cum
        WHERE cum_tokens - bucket_tokens < {BUDGET_FRACTION} * lang_tokens
        GROUP BY lang
    )
    SELECT b.doc_id, b.lang, b.n_tokens, b.quality_score, b.bucket
    FROM b JOIN thresholds th ON b.lang = th.lang
    WHERE b.bucket >= th.min_bucket
    """,
)
def corpus_token_budget_hist_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_token_budget_hist`` with the budget measured in BPE
    tokens: quality ordering unchanged (canonical ``text_quality``
    ratios over whitespace tokens), token MASS per bucket in faithful
    tokenizer counts. Plan shape identical — the BPE chain is a narrow
    JVM expression on the scan."""
    return corpus_token_budget_hist(
        spark, sf_dir, n_tokens_col=bpe_token_count("text")
    )


@query(
    "corpus_mixture_sample_bpe",
    oracle=f"""
    WITH counts AS (
        SELECT source, SUM({_BPE_N_TOKENS_SQL}) AS cnt
        FROM documents GROUP BY source
    ),
    total AS (SELECT SUM({_BPE_N_TOKENS_SQL}) AS n FROM documents),
    rates AS (
        SELECT source,
               CAST(least(1000000,
                    (({_MIX_TARGET_SQL}) * ((n * {MIX_BUDGET_PCT}) // 100))
                        // cnt) AS BIGINT) AS accept_ppm
        FROM counts, total
    )
    SELECT d.doc_id, d.source, r.accept_ppm,
           CAST(('0x' || substring(md5('mix#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                % 1000000 AS BIGINT) AS bucket_ppm
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ('0x' || substring(md5('mix#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
          % 1000000 < r.accept_ppm
    """,
)
def corpus_mixture_sample_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_mixture_sample`` with per-source availability and the
    global budget measured in BPE token MASS instead of document count —
    the mixture a training run declares ("15% of tokens from src0"), not
    a doc-count approximation of it. Same deterministic md5 keep-set
    semantics; the rate table stays tiny and broadcast."""
    return corpus_mixture_sample(
        spark, sf_dir, weight_col=bpe_token_count("text")
    )


@query(
    "corpus_pack_sequences_bpe",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_BPE_N_TOKENS_SQL} AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // {PACK_SEQ_LEN} AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {PACK_SEQ_LEN} AS BIGINT) AS offset_in_pack
    FROM c
    """,
)
def corpus_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_pack_sequences`` packing by BPE token positions — the
    offsets a training loader actually materializes at. Same two-level
    prefix-sum plan; only the token column changes."""
    return corpus_pack_sequences(
        spark, sf_dir, n_tokens_col=bpe_token_count("text")
    )


# ------------------------------------------------------- RAG chunking

CHUNK_W = 64  # tokens per retrieval chunk
CHUNK_STRIDE = 48  # overlap = CHUNK_W - CHUNK_STRIDE = 16 tokens


@query(
    "corpus_chunk_documents",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST((n + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
                         AS BIGINT)),
                   k -> struct_pack(
                       chunk_id := k,
                       start_tok := k * {CHUNK_STRIDE},
                       body := array_to_string(
                           ts[k*{CHUNK_STRIDE}+1 :
                              least(k*{CHUNK_STRIDE}+{CHUNK_W}, n)], ' ')
                   )
               )) AS c
        FROM tok
    )
    SELECT doc_id,
           CAST(c.chunk_id AS BIGINT) AS chunk_id,
           CAST(c.start_tok AS BIGINT) AS start_tok,
           CAST(len(string_split(c.body, ' ')) AS BIGINT) AS n_tokens,
           md5(c.body) AS chunk_md5
    FROM chunks
    """,
)
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERLAPPING document chunking — the RAG/embedding-ingest
    primitive: cut each document into CHUNK_W-token windows every
    CHUNK_STRIDE tokens (16-token overlap keeps sentences split by a
    boundary retrievable from both sides), emitting per chunk its
    ordinal, token offset, length and content hash. Deterministic and
    alignment-stable: chunk k always starts at k*stride regardless of
    neighbors.

    Scale: pure narrow map + explode riding the scan — zero shuffle at
    any corpus size (the ~W/stride duplication factor is the storage
    price of overlap, paid here exactly once); downstream embedding is a
    mapInPandas over these rows, and the ANN index ingests (doc_id,
    chunk_id) keyed vectors."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chunks = F.ceil(n / CHUNK_STRIDE).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("long").alias("chunk_id"),
            (k * CHUNK_STRIDE).cast("long").alias("start_tok"),
            F.array_join(
                F.slice(
                    toks,
                    k * CHUNK_STRIDE + 1,
                    F.least(
                        F.lit(CHUNK_W), n - k * CHUNK_STRIDE
                    ),
                ),
                " ",
            ).alias("body"),
        ),
    )
    c = d.select("doc_id", F.explode(chunks).alias("c"))
    return c.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start_tok").alias("start_tok"),
        F.size(F.split("c.body", " ")).cast("long").alias("n_tokens"),
        F.md5("c.body").alias("chunk_md5"),
    )


# ------------------------------------------------- epoch-repeat mixing

# Declared repeats per source for one training run: premium sources see
# >1 epoch (repeated), the tail is downsampled — the DoReMi/"books x3"
# idiom. Expressed in repeat-ppm: 2_400_000 = 2.4 epochs.
MIX_EPOCH_PPM = {"src0": 2_400_000, "src1": 1_500_000}
MIX_EPOCH_DEFAULT_PPM = 700_000  # 0.7 epochs for the tail

_EPOCH_PPM_SQL = (
    "CASE "
    + " ".join(
        f"WHEN source = '{s}' THEN {ppm}" for s, ppm in MIX_EPOCH_PPM.items()
    )
    + f" ELSE {MIX_EPOCH_DEFAULT_PPM} END"
)


@query(
    "corpus_mixture_epochs",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, ({_EPOCH_PPM_SQL}) AS ppm,
               ('0x' || substring(md5('epoch#' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   % 1000000 AS bucket_ppm
        FROM documents
    ),
    r AS (
        SELECT doc_id, source,
               CAST(ppm // 1000000 AS BIGINT)
                   + CASE WHEN bucket_ppm < ppm % 1000000 THEN 1 ELSE 0 END
                   AS n_repeats
        FROM d
    ),
    reps AS (
        SELECT doc_id, source, n_repeats,
               unnest(range(1, n_repeats + 1)) AS repeat_idx
        FROM r WHERE n_repeats > 0
    )
    SELECT doc_id, source, n_repeats, CAST(repeat_idx AS BIGINT) AS repeat_idx
    FROM reps
    """,
)
def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-repeat data mixing — the upsampling half corpus_mixture_
    sample's accept/reject cannot express: a source with a 2.4-epoch
    budget emits every document floor(2.4)=2 times plus a deterministic
    md5-bucketed 40% a third time, so expected repeats hit the declared
    ppm exactly with zero RNG state (same keep-set every run and
    engine). Emits one row per (doc, repeat) with the repeat ordinal —
    the loader's shuffle-salt for separating the copies across shards.

    Scale: a pure narrow map (rate lookup is a CASE on source, bucket is
    an md5 of the key) followed by an explode bounded by ceil(max
    epochs) — no shuffle, no join, no state; the corpus is read once
    regardless of the repeat mass."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    ppm = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(p))
            for s, p in MIX_EPOCH_PPM.items()
        ],
        F.lit(MIX_EPOCH_DEFAULT_PPM),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("epoch#"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    n_repeats = (
        F.expr(f"({_EPOCH_PPM_SQL}) div 1000000")
        + F.when(bucket < F.expr(f"({_EPOCH_PPM_SQL}) % 1000000"), 1).otherwise(0)
    ).cast("long")
    r = d.select("doc_id", "source", n_repeats.alias("n_repeats")).filter(
        F.col("n_repeats") > 0
    )
    return r.select(
        "doc_id",
        "source",
        "n_repeats",
        F.explode(F.sequence(F.lit(1), F.col("n_repeats"))).alias("repeat_idx"),
    ).withColumn("repeat_idx", F.col("repeat_idx").cast("long"))


# -------------------------------------------- train/val split + leakage

VAL_PCT = 10  # deterministic 10% validation split


@query(
    "corpus_train_val_split",
    oracle=f"""
    WITH {SHINGLES_CTE},
    split AS (
        SELECT doc_id,
               ('0x' || substring(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   % 100 < {VAL_PCT} AS is_val
        FROM documents
    ),
    val_sh AS (
        SELECT DISTINCT sh.sh
        FROM sh JOIN split ON sh.doc_id = split.doc_id
        WHERE split.is_val
    ),
    leaky AS (
        SELECT DISTINCT sh.doc_id
        FROM sh JOIN split ON sh.doc_id = split.doc_id
        JOIN val_sh ON sh.sh = val_sh.sh
        WHERE NOT split.is_val
    )
    SELECT s.doc_id, s.is_val,
           (NOT s.is_val AND l.doc_id IS NOT NULL) AS train_leaks_val
    FROM split s LEFT JOIN leaky l ON s.doc_id = l.doc_id
    """,
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation SPLIT with a LEAKAGE audit in the
    same pass — the step between dedup and training: a stable md5-bucket
    10% holdout (same split every run and engine, no RNG state), plus a
    per-train-doc flag for shingle overlap with ANY validation document
    (the within-corpus contamination that makes eval scores lie).

    Scale: the split is a narrow map; the audit is the standard
    inverted-index join — val shingles (a ~VAL_PCT fraction of the
    shingle stream) join train shingles on the shingle key, never
    doc x doc. Same cost class as ``text_contamination``; at 100 TB the
    val shingle set is the small side and broadcast-eligible."""
    d = table(spark, sf_dir, "documents")
    is_val = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("split#"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(100),
        )
        < VAL_PCT
    )
    split = d.select("doc_id", is_val.alias("is_val"))
    sh = shingle_df(spark, sf_dir)
    sh_flagged = sh.join(split, "doc_id")
    val_sh = (
        sh_flagged.filter(F.col("is_val")).select("sh").distinct()
    )
    leaky = (
        sh_flagged.filter(~F.col("is_val"))
        .join(val_sh, "sh")
        .select("doc_id")
        .distinct()
    )
    return (
        split.join(
            leaky.withColumn("_leak", F.lit(True)), "doc_id", "left"
        )
        .select(
            "doc_id",
            "is_val",
            (~F.col("is_val") & F.col("_leak").isNotNull()).alias(
                "train_leaks_val"
            ),
        )
    )


# ------------------------------------------------- dedup cascade report

@query(
    "corpus_dedup_cascade",
    # oracle assigned after definition: it composes dedup's CTE
    # fragments, which import corpus.py's dependency (textops) — the
    # late assignment breaks the would-be import cycle
    oracle=None,
)
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE COMPOSED DEDUP FUNNEL — what a curation run actually executes
    and reports: exact dedup first (hash-group, cheap), then MinHash+LSH
    verified near-dup clustering over the exact SURVIVORS only, with a
    per-stage survivor count. Ordering matters at 100 TB: every byte the
    exact stage removes never pays shingling/minhash cost.

    Plan: the exact stage is one md5-keyed window (skew-free); the
    near-dup stage runs the standard banded pipeline on the survivor
    subset; counts are three scalar aggregates unioned — no collect, no
    driver-side data. Oracle: the identical chain in DuckDB SQL,
    components by recursive closure."""
    from dbt_on_snowflake_spark.operators.dedup import (
        connected_components,
        minhash_band_keys,
        verify_pairs,
        word_shingles,
    )
    from dbt_on_snowflake_spark.testdata import fan_out_scan

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("text")
    canon = d.withColumn("keep", F.min("doc_id").over(w))
    surv = canon.filter(F.col("doc_id") == F.col("keep")).select(
        "doc_id", "text"
    )
    surv = fan_out_scan(spark, surv)

    bands = minhash_band_keys(surv)
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(y, "band_key")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sh = surv.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
    )
    pairs = verify_pairs(cand, sh).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    removed = comp.filter(F.col("doc_id") != F.col("cluster_id"))

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    n_surv = surv.select("doc_id")
    final = n_surv.join(removed, "doc_id", "left_anti")
    return (
        stage("0_input", d)
        .unionByName(stage("1_exact_survivors", n_surv))
        .unionByName(stage("2_near_dup_survivors", final))
    )


def _cascade_oracle() -> str:
    from dbt_on_snowflake_spark.operators.dedup import (
        _MINHASH_BANDS_CTE,
        _VERIFIED_PAIRS_CTE,
    )

    return f"""
    WITH RECURSIVE canon AS (
        SELECT doc_id, text,
               MIN(doc_id) OVER (PARTITION BY text) AS keep
        FROM documents
    ),
    surv AS (SELECT doc_id, text FROM canon WHERE doc_id = keep),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM surv),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                      g -> array_to_string(ts[g:g+2], ' '))) AS sh
        FROM tok
    ),
    {_MINHASH_BANDS_CTE},
    {_VERIFIED_PAIRS_CTE},
    nodes AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION SELECT doc_b FROM pairs
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst
    ),
    comp AS (
        SELECT src AS doc_id, MIN(dst) AS cluster_id
        FROM reach GROUP BY src
    ),
    removed AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
    SELECT '0_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    UNION ALL
    SELECT '1_exact_survivors', CAST(COUNT(*) AS BIGINT) FROM surv
    UNION ALL
    SELECT '2_near_dup_survivors',
           CAST((SELECT COUNT(*) FROM surv)
                - (SELECT COUNT(*) FROM removed) AS BIGINT)
    """


QUERIES["corpus_dedup_cascade"].oracle = _cascade_oracle()


@query(
    "corpus_pack_shards_bpe",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_BPE_N_TOKENS_SQL} AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM t
    ),
    packed AS (
        SELECT doc_id, lang, n_tokens,
               CAST((cum - n_tokens) // {PACK_SEQ_LEN} AS BIGINT) AS pack_id
        FROM c
    )
    SELECT lang,
           CAST(pack_id // {PACKS_PER_SHARD} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT doc_id)), ',') AS doc_ids
    FROM packed
    GROUP BY lang, CAST(pack_id // {PACKS_PER_SHARD} AS BIGINT)
    """,
)
def corpus_pack_shards_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_pack_shards`` keyed on BPE token mass — the shard
    manifest at the offsets a training loader actually materializes.
    Same plan; only the token column changes."""
    return corpus_pack_shards(
        spark, sf_dir, n_tokens_col=bpe_token_count("text")
    )


# --------------------------------------------- training-order shuffle

SHUFFLE_N_SHARDS = 32


@query(
    "corpus_shuffle_order",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               md5('shuf:' || CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    ),
    s AS (
        SELECT doc_id, hx,
               CAST(('0x' || substring(hx, 1, 8))::UBIGINT
                    % {SHUFFLE_N_SHARDS} AS BIGINT) AS shard_id
        FROM h
    )
    SELECT doc_id, shard_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard_id ORDER BY hx ASC, doc_id ASC
           ) AS BIGINT) AS pos
    FROM s
    """,
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC TRAINING-ORDER SHUFFLE: every document gets a
    (shard_id, pos) — an md5-derived pseudo-random global order a
    training run reads shard-by-shard. Hash-keyed, so the permutation
    is reproducible across runs/engines (seeded in the hash prefix;
    re-salt to re-shuffle per epoch) — ``orderBy(rand())`` is neither.

    Scale: NO global sort — a true global permutation would
    range-partition the corpus; sharded order needs only a hash
    exchange on shard_id plus an independent per-shard local sort
    (corpus/32 rows each), which is also exactly the order the loader
    consumes. Uniform 128-bit keys keep every shard the same size."""
    d = table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    shard = F.pmod(
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"),
        F.lit(SHUFFLE_N_SHARDS),
    ).cast("long")
    w = Window.partitionBy("shard_id").orderBy(
        F.col("hx").asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", hx.alias("hx"), shard.alias("shard_id"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard_id", "pos")
    )


@query(
    "corpus_quality_report",
    oracle=None,  # set below (late import of the classifier SQL)
)
def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report: docs, classifier keep counts/rate,
    exact-duplicate counts, and kept token mass — the one-page summary a
    curation run ends with. One scan + one tiny (source, md5-partial)
    aggregate chain; every rate is integer-derived so the report is
    engine-exact."""
    from pyspark.sql import Window

    from dbt_on_snowflake_spark.operators.textops import quality_score

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    scored = d.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        (quality_score("text") > 0).alias("keep"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("canonical"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.count(F.when(~F.col("canonical"), 1)).alias("n_exact_dupes"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
    )


def _set_quality_report_oracle() -> None:
    from dbt_on_snowflake_spark.operators.textops import quality_score_sql
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["corpus_quality_report"].oracle = f"""
    WITH s AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               {quality_score_sql("text")} > 0 AS keep,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                   AS canonical
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN keep THEN 1 END) AS n_kept,
           COUNT(CASE WHEN NOT canonical THEN 1 END) AS n_exact_dupes,
           CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM s GROUP BY source
    """


_set_quality_report_oracle()


@query(
    "corpus_pack_efficiency",
    oracle=f"""
    WITH t AS (
        SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    g AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM t GROUP BY lang
    )
    SELECT lang, n_docs, total_tokens,
           CAST((total_tokens - 1) // {PACK_SEQ_LEN} + 1 AS BIGINT) AS n_packs,
           CAST(((total_tokens - 1) // {PACK_SEQ_LEN} + 1) * {PACK_SEQ_LEN}
                - total_tokens AS BIGINT) AS tail_padding,
           CAST(total_tokens * 10000
                // (((total_tokens - 1) // {PACK_SEQ_LEN} + 1)
                    * {PACK_SEQ_LEN}) AS BIGINT) AS utilization_bp
    FROM g
    """,
)
def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing run's efficiency report: per language, pack count,
    tail padding, and utilization in integer basis points. Start-based
    packing fills packs contiguously (docs straddle boundaries), so the
    ONLY padding is the final partial pack — utilization is
    total/(n_packs*L) exactly. One tiny per-language aggregate; exact
    integer arithmetic end to end."""
    L = PACK_SEQ_LEN
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
    )
    # `div` is exact long division — a double-division truncation would
    # misround within 1 ulp of a pack boundary at corpus-scale counts
    n_packs = F.expr(f"(total_tokens - 1) div {L}") + 1
    return g.select(
        "lang",
        "n_docs",
        "total_tokens",
        n_packs.alias("n_packs"),
        (n_packs * L - F.col("total_tokens")).alias("tail_padding"),
        F.expr(
            f"(total_tokens * 10000) div (((total_tokens - 1) div {L} + 1)"
            f" * {L})"
        ).alias("utilization_bp"),
    )


TEMP_BUDGET_PCT = 50  # temperature-sampled corpus budget: 50% of tokens


@query(
    "corpus_temperature_sample",
    oracle=f"""
    WITH c AS (
        SELECT lang,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, toks,
               CAST(ROUND(sqrt(toks) * 10000) AS BIGINT) AS w_scaled
        FROM c
    ),
    tot AS (
        SELECT CAST(SUM(w_scaled) AS BIGINT) AS wsum,
               CAST(SUM(toks) AS BIGINT) AS tsum
        FROM w
    ),
    rates AS (
        SELECT w.lang, w.toks,
               CAST(least(1000000,
                    ((w.w_scaled * 1000000 // tot.wsum)
                     * ((tot.tsum * {TEMP_BUDGET_PCT}) // 100))
                        // w.toks) AS BIGINT) AS accept_ppm
        FROM w, tot
    )
    SELECT d.doc_id, d.lang, r.accept_ppm
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ('0x' || substring(md5('temp#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
          % 1000000 < r.accept_ppm
    """,
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE SAMPLING across languages (alpha = 1/2, the
    mT5/XLM-R multilingual recipe): language selection probability
    p_l ∝ tokens_l^alpha, flattening the natural distribution so
    low-resource languages are upsampled relative to their share. Each
    language's per-doc keep rate = min(1, p_l * budget / tokens_l),
    realized by the same deterministic md5-bucket filter as the mixture
    sampler (downsampling formulation; compose corpus_mixture_epochs for
    the upsampling half).

    Engine-exactness: sqrt is IEEE-754 correctly rounded in both
    engines, then immediately scaled to int64 (ROUND x 1e4) — every
    later step (normalization, budget, rates) is integer `div`
    arithmetic, so the keep-set is bit-identical. Plan posture matches
    corpus_mixture_sample: one tiny per-lang aggregate broadcast onto a
    scan-speed filter; the corpus is never shuffled."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("toks")
    )
    w = c.select(
        "lang",
        "toks",
        F.round(F.sqrt(F.col("toks")) * 10000).cast("long").alias("w_scaled"),
    )
    tot = w.agg(
        F.sum("w_scaled").alias("wsum"), F.sum("toks").alias("tsum")
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.expr(
            f"least(1000000L, (((w_scaled * 1000000) div wsum)"
            f" * ((tsum * {TEMP_BUDGET_PCT}) div 100)) div toks)"
        )
        .cast("long")
        .alias("accept_ppm"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp#"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    ).cast("long")
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("accept_ppm"))
        .select("doc_id", "lang", "accept_ppm")
    )
