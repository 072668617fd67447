"""Deduplication operators (SURVEY §7.5, BASELINE.json north star).

Five dedup families over the ``documents`` / ``embeddings`` tables:

- exact           — hash-groupBy on content, deterministic representative
- n-gram Jaccard  — word-trigram shingle overlap, exact pairwise similarity
- MinHash + LSH   — shingle → minhash signature → banded bucket-join;
                    the scale path (no all-pairs comparison)
- SimHash         — token-hash bit-vote fingerprint (Charikar 2002)
- embedding cosine— near-dup pairs by vector similarity, label-blocked

Portability: signatures are built from **md5** (identical hex in Spark and
DuckDB) so every step — including the MinHash signatures and the SimHash
fingerprints — has a bit-identical SQL oracle. A lexicographic min over
``md5(seed || shingle)`` is a valid minhash permutation.

Scale posture (100 TB): everything is shingle-explode → groupBy/join —
narrow transforms plus key-partitioned shuffles. No driver-side state, no
all-pairs cross join anywhere except *within* LSH buckets / label blocks.
The shingle explode is the big intermediate; at cluster scale, shuffle
partitions must be sized to it (docs × ~tokens rows), and hot shingles
(stop-phrases) are exactly what AQE skew-split handles.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.registry import query
from dbt_on_snowflake_spark.sources.bucketing import write_bucketed
from dbt_on_snowflake_spark.testdata import fan_out_scan, table

N_HASHES = 8  # minhash signature length
N_BANDS = 4  # bands of 2 rows each: P(candidate) = 1-(1-j^2)^4
N_SEEDS = 2  # md5 digests per shingle; each yields 4 independent 32-bit slices
SLICE_HEX = 8  # hex chars per slice (32 bits)

# ---------------------------------------------------------------- shingles


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a single-space-tokenized text."""
    toks = F.split(text, " ")
    n = F.size(toks)
    seq = F.sequence(F.lit(1), n - (k - 1))
    grams = F.transform(seq, lambda g: F.array_join(F.slice(toks, g, k), " "))
    # sequence(1, x) counts DOWN when x < 1 — guard short docs explicitly
    return F.array_distinct(
        F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))
    )


# DuckDB mirror of word_shingles (list comprehension; lateral
# generate_series with column args is unsupported in DuckDB 1.0).
SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                  g -> array_to_string(ts[g:g+2], ' '))) AS sh
    FROM tok
)
"""


def shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) exploded distinct shingles — shared by jaccard/minhash.

    fan_out_scan: shingling + hashing is the CPU-dense stage; on the
    single-row-group local files the scan is 1 partition and would
    serialize it onto one core (identity on a real cluster scan)."""
    d = fan_out_scan(
        spark,
        table(spark, sf_dir, "documents"),
        key_path=os.path.join(sf_dir, "documents.parquet"),
    )
    return d.select("doc_id", F.explode(word_shingles(F.col("text"))).alias("sh"))


# ------------------------------------------------------------- exact dedup


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies,
           MIN(lang) AS lang,
           MD5(text) AS content_hash
    FROM documents
    GROUP BY text
    """,
    headline=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the min doc_id.

    Deterministic (unlike dropDuplicates, which keeps an arbitrary row).
    At scale the groupBy key is md5(text) — a uniform 128-bit key, so the
    shuffle is skew-free even when documents themselves are hot.

    Plan note (r17, measured): MIN(lang) is a string-buffered
    declarative aggregate, which demotes both aggregate levels to
    SortAggregate (string buffers are not UnsafeRow-mutable) — the
    rows are sorted by the md5 key on each side of the shuffle instead
    of hash-aggregated. Two rank-dict rewrites that keep the buffers
    numeric (lang domain ranked in-plan via a window, and collected
    driver-side into a single-slice broadcast dict) were built and
    measured at sf0.1: 0.268 s string-min vs 0.657 s / 0.750 s for
    the dicts, min-of-5 interleaved — the dict's extra job + two
    broadcast joins are a fixed per-query cost that dwarfs the sort of
    bench-scale data, while the sort penalty only bites at corpus
    scale. Kept the measured winner; at 100 TB the deployment lever is
    the same dict attach, whose cost amortizes to zero there."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("lang").alias("lang"),
        )
        .select("keep_doc_id", "n_copies", "lang", "content_hash")
    )


# ---------------------------------------------------------- n-gram jaccard


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4)
               AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (threshold 0.8).

    Pairs are generated by the shingle self-join (inverted index), NOT an
    all-pairs cross join — cost is sum over shingles of df(s)^2, the
    standard exact-similarity-join bound. MinHash below is the cheaper
    screen at 100 TB; this operator is the precise verifier."""
    sh = shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select(
            "doc_a", "doc_b", "n_common", F.round(jac, 4).alias("jaccard")
        )
    )


# ------------------------------------------------------------ minhash LSH


def _minhash_sig(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7): minhash signature — per shingle row, a
    projection computes TWO md5 digests, and the groupBy takes 8 LONG
    mins over 32-bit slices of them.

    Hash family: hash_k = 32-bit slice k%4 of md5("k//4:" || s) — 2 md5
    digests per shingle instead of 8 (md5 dominates per-row cost; the
    projection feeding the aggregate is NOT collapsed into the agg
    expressions, since Catalyst refuses to duplicate the non-cheap
    multi-referenced digest — verified in the plan: 2 md5 per row).
    Disjoint bit-ranges of a cryptographic digest are independent
    uniform values, so the 8 argmins are independent permutations. This
    is NOT the rejected Kirsch-Mitzenmacher family (h1 + i*h2 from one
    digest): there the orderings across i are affine-related, the same
    low-hash shingle wins several permutations at once, and the bands
    stop being independent (planted j~0.99 pairs were missed). Slices
    share no bits and have no algebraic relation; the recall test
    (test_minhash_recall_of_high_jaccard_pairs) pins it.

    LONG mins keep the aggregation in whole-stage-codegen HashAggregate
    (min(string) falls back to SortAggregate — the r1->r2 lesson, commit
    e1dcfaf). A fully narrow array_min(transform(...)) variant with NO
    aggregation was tried and REJECTED: higher-order functions evaluate
    interpreted (outside codegen) and measured ~1.7x slower than this
    explode + codegen'd hash-agg pipeline at sf0.1."""
    proj = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("sh"))).alias(f"h{i}")
            for i in range(N_SEEDS)
        ],
    )
    aggs = [
        F.min(
            F.conv(
                F.substring(F.col(f"h{k // 4}"), 1 + SLICE_HEX * (k % 4), SLICE_HEX),
                16,
                10,
            ).cast("long")
        ).alias(f"mh{k}")
        for k in range(N_HASHES)
    ]
    return proj.groupBy("doc_id").agg(*aggs)


# Shared signature/bands CTE (requires the sh CTE in scope) — both
# minhash oracles build on it so candidates provably match (same
# exploded-shingle GROUP BY MIN shape as the Spark side).
_MINHASH_BANDS_CTE = f"""
    mh AS (
        SELECT doc_id,
               {", ".join(f"MIN(('0x' || substring(md5('{k // 4}:' || sh), {1 + SLICE_HEX * (k % 4)}, {SLICE_HEX}))::UBIGINT::BIGINT) AS mh{k}" for k in range(N_HASHES))}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {j} AS band_idx, MD5(mh{2 * j}::VARCHAR || mh{2 * j + 1}::VARCHAR) AS band_key FROM mh"
            for j in range(N_BANDS)
        )}
    )
"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {SHINGLES_CTE},
    {_MINHASH_BANDS_CTE}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
    """,
    headline=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: shingle → 8-hash signature → 4 bands
    of 2 → docs sharing any band bucket.

    This is the 100 TB dedup path: cost is linear in corpus size plus the
    (tiny) within-bucket joins; the signature groupBy (partial mins
    map-side, 8 longs per doc shuffled) is the only full-data shuffle.
    Band keys are md5 of signature pairs, so bucket-join keys are
    uniform."""
    sig = _minhash_sig(shingle_df(spark, sf_dir))
    band_cols = ", ".join(
        f"{j}L, md5(concat(mh{2 * j}, mh{2 * j + 1}))" for j in range(N_BANDS)
    )
    bands = sig.selectExpr(
        "doc_id",
        f"stack({N_BANDS}, {band_cols}) AS (band_idx, band_key)",
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ----------------------------------------------- LSH + exact verification


# Batch-mode verified-pairs oracle — also the oracle of the incremental
# index path below: corpus pairs + incremental pairs must reproduce the
# batch result on the union exactly.
_MINHASH_VERIFIED_ORACLE = f"""
    WITH {SHINGLES_CTE},
    {_MINHASH_BANDS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4)
               AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """


def verify_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact-Jaccard verification of candidate ``(doc_a, doc_b)`` pairs
    against a ``(doc_id, sh)`` shingle table -> ``(doc_a, doc_b,
    jaccard)`` rows above ``threshold``. The expensive exact similarity
    join runs ONLY over the candidate pairs — shared by the batch
    pipeline (``dedup_minhash_verified``) and the incremental-index path
    (``dedup_incremental_vs_index``), so both produce bit-identical
    verdicts for the same candidates."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, (F.col("doc_b") == F.col("b.doc_id")) & (F.col("b.sh") == F.col("a.sh")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query("dedup_minhash_verified", oracle=_MINHASH_VERIFIED_ORACLE)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup pipeline: LSH candidates -> exact Jaccard
    verification, composed. The expensive exact similarity join runs ONLY
    over the candidate pairs (semi-join of the shingle index against the
    candidate set) — this is the shape that scales to 100 TB, where exact
    all-pairs Jaccard is impossible and LSH alone has false positives."""
    # bounded-intermediate lineage cuts (the dedup_incremental_index
    # recipe, r17): cand is referenced 3x downstream (two id unions +
    # the verification join) — uncut, every reference re-ran the whole
    # LSH bands self-join; and the shingle relation is semi-join
    # PRUNED to candidate docs before its own 3 references, so the
    # exact-Jaccard stage scans candidate documents, not the corpus
    # (identical semantics: verify_pairs only ever reads shingles of
    # docs appearing in cand).
    cand = dedup_minhash_lsh(spark, sf_dir).localCheckpoint()
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = shingle_df(spark, sf_dir).join(
        ids, "doc_id", "left_semi"
    ).localCheckpoint()
    return verify_pairs(cand, sh)


# ---------------------------------------------------------------- simhash

SIMHASH_BITS = 48  # md5-derived 48-bit token hashes stay exact in BIGINT


# Shared fingerprint CTE (ends with fp(doc_id, simhash)) so the pair
# search below provably runs on the same fingerprints.
_SIMHASH_FP_CTE = f"""
    tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    th AS (
        SELECT doc_id,
               ('0x' || substring(md5(t), 1, 12))::UBIGINT::BIGINT AS h
        FROM tok
    ),
    bits AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th, (SELECT unnest(range(0, {SIMHASH_BITS})) AS j)
        GROUP BY doc_id, j
    ),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash",
    oracle=f"WITH {_SIMHASH_FP_CTE} SELECT doc_id, simhash FROM fp",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: per distinct token a 48-bit md5-derived hash
    votes ±1 on each bit; the sign vector is the fingerprint. Near-dup
    docs differ in few bits (pair search = band the fingerprint bytes and
    hamming-filter within buckets; the fingerprint table itself is the
    reusable artifact).

    48 bits (12 md5 hex chars) keeps the hash exact in a signed 64-bit
    long on both engines."""
    return _simhash(spark, table(spark, sf_dir, "documents"))


def _simhash(spark: SparkSession, d: DataFrame) -> DataFrame:
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    th = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("long").alias("h"),
    )
    bits = (
        th.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"),
        )
        .withColumn(
            "vote",
            F.when(F.expr("(h >> j) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("s"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr(f"shiftleft(1L, j)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


# ------------------------------------------------------ simhash pair search

SIMHASH_BAND_BITS = 12  # 4 bands x 12 bits over the 48-bit fingerprint
SIMHASH_N_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
# <= 3 differing bits of 48: with 4 bands of 12, the pigeonhole principle
# GUARANTEES every such pair shares an intact band — recall is exactly 1,
# not probabilistic (3 flipped bits can spoil at most 3 of the 4 bands).
SIMHASH_MAX_HAMMING = 3


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_FP_CTE},
    bands AS (
        SELECT doc_id, simhash, j AS band,
               (simhash >> ({SIMHASH_BAND_BITS} * j))
                   & {(1 << SIMHASH_BAND_BITS) - 1} AS band_key
        FROM fp, (SELECT unnest(range(0, {SIMHASH_N_BANDS})) AS j)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from the SimHash fingerprints: band the 48-bit
    fingerprint into 4 x 12-bit keys, bucket-join on (band, key), then
    verify candidates with an exact popcount hamming distance <=
    SIMHASH_MAX_HAMMING (recall 1 by pigeonhole — see the constant). Same
    candidate-generation -> bounded-verification shape as MinHash+LSH;
    cost is linear in fingerprints + matches, never all-pairs."""
    fp = _simhash(spark, table(spark, sf_dir, "documents"))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_N_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_key", F.expr(f"(simhash >> ({SIMHASH_BAND_BITS} * band)) & {mask}")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(ha ^ hb)")
    return (
        cand.filter(ham <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
    )


# ---------------------------------------------------- embedding cosine dedup


def _cosine_dot(a: str, b: str) -> Column:
    """The dot-product leg of ``_cosine``: sequential F.aggregate fold
    over zip_with products — the exact sub-expression ``_cosine``
    always built, exposed so callers can stage it separately."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine_norm(c: str) -> Column:
    """The norm leg of ``_cosine``: sqrt of the sequential sum of
    squares — the exact na/nb sub-expression ``_cosine`` always built,
    exposed so callers can stage norms as columns ONCE instead of
    letting a pushed ``isnotnull(cosine)`` filter re-evaluate the whole
    cosine inside a join condition (guide §4.4-shaped duplication)."""
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _cosine_from(dot: Column, na: Column, nb: Column) -> Column:
    """``_cosine``'s combine step over pre-staged legs: NULL when the
    norm product is 0 (undefined cosine), else dot/(na*nb) — the same
    expression tree ``_cosine`` builds, so staged callers stay
    bit-identical to inline ones."""
    denom = na * nb
    return F.when(denom != F.lit(0.0), dot / denom)


def _cosine(a: str, b: str) -> Column:
    """Cosine between two array<double> columns, computed as
    dot/(norm_a*norm_b) with sequential F.aggregate sums.

    A zero-norm vector makes the cosine UNDEFINED: the denominator is 0,
    which ANSI mode turns into a runtime DIVIDE_BY_ZERO error and
    non-ANSI into NaN — and Spark orders NaN GREATER than any double, so
    a NaN pair would outrank every real neighbor under DESC (advice r8).
    Return NULL instead: every threshold comparison (NULL >= t -> NULL)
    and rank filter then drops the degenerate pair, matching the Arrow
    kernels' isfinite keep-filters."""
    return _cosine_from(_cosine_dot(a, b), _cosine_norm(a), _cosine_norm(b))


COSINE_SQL = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({COSINE_SQL.format(a="a.v", b="b.v")}, 4) AS cosine
    FROM e a
    JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {COSINE_SQL.format(a="a.v", b="b.v")} >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the coarse `label`
    column (IVF-style: only same-cluster pairs are compared — the
    all-pairs cross join never materializes). At 100 TB the label is a
    learned/assigned centroid id with ~sqrt(N) clusters.

    Each cell's pairwise cosines are computed in a per-label
    applyInPandas numpy kernel (ONE groupBy exchange, blocked 256-row
    products — same contract as dedup_semantic's serve kernel)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    return _embedding_pairs_arrow(e)


def _embedding_pairs_arrow(e: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Per-label pairwise-cosine kernel: rows sorted by vec_id inside
    the cell, upper-triangle blocks only, threshold applied to the
    UNROUNDED cosine (the oracle's WHERE) and the emitted value rounded
    half-up-away-from-zero to 4 decimals. Sequential-fold dots via
    cumsum keep the arithmetic bit-identical to the oracle's
    list_dot_product."""
    import numpy as np

    BLK = 256

    def pairs(pdf):
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        V = np.stack(pdf["v"].to_numpy())
        o = np.argsort(ids)
        ids, V = ids[o], V[o]
        n = len(ids)
        norms = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n, BLK):
            i1 = min(i0 + BLK, n)
            for j0 in range(i0, n, BLK):
                j1 = min(j0 + BLK, n)
                d = np.cumsum(
                    V[i0:i1, None, :] * V[None, j0:j1, :], axis=2
                )[:, :, -1]
                cos = d / (norms[i0:i1, None] * norms[None, j0:j1])
                mask = (cos >= threshold) & (
                    np.arange(i0, i1)[:, None] < np.arange(j0, j1)[None, :]
                )
                ii, jj = np.nonzero(mask)
                if len(ii):
                    out_a.append(ids[i0 + ii])
                    out_b.append(ids[j0 + jj])
                    r = cos[ii, jj]
                    out_c.append(np.floor(r * 10000.0 + 0.5) / 10000.0)
        if not out_a:
            return pd.DataFrame(
                {
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return e.groupBy("label").applyInPandas(
        pairs, "vec_a long, vec_b long, cosine double"
    )


# ------------------------------------------------- duplicate clustering

# Verified-pair CTEs shared with dedup_minhash_verified so the cluster
# oracle provably runs on the same edge set.
_VERIFIED_PAIRS_CTE = f"""
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    )
"""

_CC_MAX_ITERS = 25


def connected_components(
    pairs: DataFrame,
    *,
    max_iters: int = _CC_MAX_ITERS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every node of an undirected pair graph with its component's
    minimum node id. Input: a DataFrame with ``doc_a``/``doc_b`` edge
    columns; output: ``(doc_id, cluster_id)``.

    Algorithm: min-label propagation fused with POINTER JUMPING (path
    halving) — each round first lowers every node's label to the min over
    itself and its neighbors' labels (one join + one agg), then replaces
    the label with its label's label (one self-join). The jump halves the
    distance every label pointer still has to travel, so convergence is
    O(log diameter) rounds instead of O(diameter): a 60-node chain closes
    in ~7 rounds, where plain propagation needed 59 and round-3's
    ``_CC_MAX_ITERS=25`` cap would have raised (round-3 verdict "What's
    wrong" #3a). This is the star-contraction family of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SoCC'14), expressed
    as two skinny (doc_id, label) joins per round. ``max_iters`` remains
    as a safety net only — at log-diameter convergence even a
    corpus-spanning 2^25-node path converges inside 25 rounds.

    Fault tolerance (round-3 verdict #3b): per-round lineage is cut with
    ``localCheckpoint`` by default — fast, but executor-local, so losing
    an executor mid-iteration on a real cluster loses partitions and the
    job must restart from the verified pair set. Pass ``checkpoint_dir``
    to use durable ``checkpoint()`` to that path (HDFS/S3 in production):
    each round's labels survive executor loss and the job recovers from
    the last completed round. The recovery contract is per-ROUND, not
    per-task: rounds are deterministic functions of the previous round's
    durable labels, so replaying the current round is always safe.
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def cut(df: DataFrame) -> DataFrame:
            return df.checkpoint()

    else:

        def cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    pairs = cut(pairs.select("doc_a", "doc_b"))
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        edges.select("doc_a")
        .distinct()
        .select(F.col("doc_a").alias("doc_id"), F.col("doc_a").alias("label"))
    )
    labels = cut(labels)
    for rnd in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("nbr_min"))
        )
        lowered = labels.join(
            nbr_min, labels["doc_id"] == nbr_min["doc_a"], "left"
        ).select(
            labels["doc_id"],
            labels["label"].alias("old_label"),
            F.least(
                labels["label"], F.coalesce("nbr_min", labels["label"])
            ).alias("label"),
        )
        # pointer jump: label <- label(label). Every label IS a node id
        # (a min over node ids), so the inner join is total.
        parent = lowered.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        stepped = cut(
            lowered.join(parent, lowered["label"] == parent["p_id"]).select(
                lowered["doc_id"],
                lowered["old_label"],
                F.col("p_label").alias("label"),
            )
        )
        # Convergence-check cadence (round-4 verdict "What's wrong" #1):
        # the count() is a full extra driver action per round, and with
        # pointer jumping labels usually stabilize rounds before the
        # check would notice anyway. Check every round for the first 3
        # (small graphs converge there and exit at the earliest moment),
        # then every OTHER round — at worst one extra (idempotent)
        # iteration, for half the driver actions on deep graphs. The
        # last allowed round always checks so the non-convergence raise
        # below stays accurate.
        check = rnd < 3 or rnd % 2 == 0 or rnd == max_iters - 1
        labels = stepped.select("doc_id", "label")
        if check and (
            stepped.filter(F.col("label") < F.col("old_label")).count() == 0
        ):
            return labels.select("doc_id", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected components did not converge in {max_iters} rounds"
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {SHINGLES_CTE},
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
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERING — the step a real dedup pipeline runs after
    pair generation: verified near-dup pairs (LSH candidates -> exact
    Jaccard >= 0.8, same edge set as dedup_minhash_verified) are closed
    into connected components, labeling every document with its cluster's
    minimum doc_id. Keep-one-per-cluster is then `doc_id == cluster_id`
    (the canonical survivor); singleton documents (no duplicate) are out
    of scope by construction — the pair graph only contains duplicates.

    Distributed shape: see ``connected_components`` above — min-label
    propagation + pointer jumping, O(log diameter) rounds, each round two
    skinny (doc_id, label) joins. The expensive upstream (shingle/minhash/
    verify) is checkpointed ONCE before iterating, so each round shuffles
    only label pairs for documents that have a duplicate — a vanishing
    fraction of the corpus at 100 TB. Production runs pass a durable
    ``checkpoint_dir`` through ``connected_components`` for mid-iteration
    executor-loss recovery.

    The DuckDB oracle computes the same components by recursive transitive
    closure — tractable at oracle scale, impossible at 100 TB, which is
    exactly why the engine side iterates instead.
    """
    pairs = dedup_minhash_verified(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


@query(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {SHINGLES_CTE},
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
    csizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_removable
    FROM csizes GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-CLUSTER SIZE DISTRIBUTION — the report a dedup run
    ships (how much boilerplate, how big are the blobs, how many docs
    does keep-one-per-cluster delete): count-of-counts over the
    connected components, with per-bucket removable-doc totals.

    Plan: the component labels (see ``dedup_clusters``) roll up twice —
    cluster_id then cluster_size — each a map-side-combined aggregate
    over progressively tinier tables; the distribution domain is at
    most the largest cluster size. Only documents WITH a duplicate
    enter the graph, so the whole rollup is a vanishing fraction of the
    corpus at 100 TB."""
    comp = dedup_clusters(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        (F.sum("cluster_size") - F.count(F.lit(1))).alias("n_removable"),
    )


# ------------------------------------- incremental dedup vs persisted index

INDEX_N_BUCKETS = 32  # size for the target corpus scale at index build time


def minhash_band_keys(docs: DataFrame) -> DataFrame:
    """``(doc_id, band_key)`` banded MinHash keys with the band index
    FOLDED INTO the key — ``md5('j:' || mh_2j || ':' || mh_2j+1)`` — so
    the persisted index buckets on ONE column and every probe is a
    single-key equi-join that can reuse the bucket layout. Candidate
    semantics are identical to ``dedup_minhash_lsh``'s two-column
    ``(band_idx, band_key)`` join: the digest input embeds the band
    index, so keys from different bands can never collide (mod the
    2^-128 md5 collision bound)."""
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
    )
    sig = _minhash_sig(sh)
    exprs = ", ".join(
        f"md5(concat('{j}:', mh{2 * j}, ':', mh{2 * j + 1}))"
        for j in range(N_BANDS)
    )
    return sig.selectExpr("doc_id", f"stack({N_BANDS}, {exprs}) AS (band_key)")


def _drop_managed_table(spark: SparkSession, name: str) -> None:
    """Drop a managed table AND any stale warehouse directory left by a
    previous session (the in-memory catalog forgets tables across
    sessions but their parquet directories persist, and CREATE TABLE
    refuses a non-empty managed location). Deletion goes through the
    Hadoop FS API (engine/fs.py), so the same cleanup works when the
    warehouse dir is an object store, not just local disk. The stale
    dir resolves through the table's (possibly implicit) DATABASE
    location — a naive ``wh/<name>`` join on a qualified name targets
    the wrong path (``wh/'db.t'`` instead of ``wh/db.db/t``), leaving
    the prior generation's dir alive; for a tombstone table that dir
    would then be RE-ATTACHED by the next attach/delete triage,
    resurrecting pre-rebuild deletes onto a freshly rebuilt index
    (r13 review, finding 2)."""
    from dbt_on_snowflake_spark.engine.fs import fs_delete, fs_exists
    from dbt_on_snowflake_spark.engine.index_delete import (
        _managed_location,
        engine_owned_dir,
    )
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        table_location,
    )

    # the shadow guard's (location, existing-and-owned) verdict — the
    # catalog-less fall-through at the end reuses it instead of paying
    # the fs_list + sidecar-read round-trips twice on the same path
    # (r14 review pass 2, finding 5)
    guard_loc: str | None = None
    guard_owned: bool | None = None
    if "." not in name:
        # a temp view shadowing the family name resolves FIRST in
        # DESCRIBE and DROP alike: it must be removed up front so the
        # REAL table (if any) is what gets located and dropped —
        # otherwise the view is dropped, the table stays cataloged,
        # and the fall-through sweep destroys the live table's dir out
        # from under it (r13 review pass 5, finding 2). But ONLY when
        # something real is being shadowed: a cataloged table at the
        # session-database-qualified name (qualification bypasses view
        # resolution) or an EXISTING engine-owned dir at the managed
        # location. A same-named user view over a name no index family
        # occupies is session state this rebuild has no claim on (r13
        # advice #2) — and with nothing cataloged and no owned dir
        # there is nothing to drop or delete either, so return without
        # touching it (an unproven foreign dir is likewise left for
        # the next CREATE to fail loudly on — the index_delete triage
        # convention).
        if not spark.catalog.tableExists(
            # backtick-quoted like _managed_location's resolution: a
            # custom db name needing quoting must not crash the probe
            f"`{spark.catalog.currentDatabase()}`.`{name}`"
        ):
            guard_loc = _managed_location(spark, name)
            guard_owned = fs_exists(spark, guard_loc) and engine_owned_dir(
                spark, guard_loc
            )
            if not guard_owned:
                if spark.catalog.tableExists(name):
                    # only a temp view answers the unqualified probe
                    # when the qualified name has no table: it shadows
                    # nothing real, so this reset must not destroy it —
                    # but the caller is about to CREATE a table under
                    # this name, which the surviving view would shadow
                    # on every later unqualified read (silently serving
                    # the view's rows as the index). Fail loudly
                    # instead of either silent outcome (r14 review,
                    # finding 3).
                    raise ValueError(
                        f"temp view {name!r} shadows the index family "
                        "name and no cataloged table or engine-owned "
                        "dir exists behind it; drop the view or pick "
                        "another family name"
                    )
                return
        spark.catalog.dropTempView(name)
    loc = None
    if spark.catalog.tableExists(name):
        # resolve the REAL location before dropping: the attach paths
        # re-register persisted families as EXTERNAL tables
        # (createTable(path=...) / CREATE ... LOCATION), whose dirs a
        # plain DROP leaves behind, wedging rebuilds of attached
        # families on 'location already exists' (r13 review pass 3,
        # finding 2)
        try:
            loc = table_location(spark, name)
        except ValueError:
            loc = None  # defensive: no location entry
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    if loc is not None:
        # delete only dirs the engine can PROVE it owns — inside the
        # warehouse, or carrying an engine sidecar. A cataloged
        # EXTERNAL table can sit over a foreign dir that merely
        # collides on name inside a shared custom-LOCATION database;
        # destroying it is worse than the rebuild failing loudly on
        # the non-empty location (r13 review pass 4, finding 1 — the
        # remedy for that loud failure is deleting the dir by hand or
        # keeping engine families under warehouse-managed databases).
        if engine_owned_dir(spark, loc):
            fs_delete(spark, loc)
        return
    # catalog-LESS leftover (a prior session's files): same ownership
    # proof as the cataloged branch — _under_warehouse OR an engine
    # sidecar/marker in the dir, so a marked family in a
    # custom-LOCATION database rebuilds cleanly even without an attach
    # first (r13 review pass 6, finding 1); an unproven foreign dir is
    # left for the next CREATE to fail loudly on (the index_delete
    # triage convention; r13 review pass 2, finding 1)
    # fs_delete on a missing path is a no-op, so the guard's combined
    # (exists AND owned) verdict is exactly this branch's gate
    loc = guard_loc if guard_loc is not None else _managed_location(
        spark, name
    )
    owned = (
        guard_owned
        if guard_owned is not None
        else engine_owned_dir(spark, loc)
    )
    if owned:
        fs_delete(spark, loc)


def build_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    *,
    index_table: str,
    pairs_table: str | None = None,
    n_buckets: int = INDEX_N_BUCKETS,
) -> None:
    """Persist the corpus's MinHash band index as a BUCKETED managed
    table (bucketed+sorted on ``band_key``) — the artifact every real
    training-data pipeline keeps between crawl batches, so each new
    batch is deduped against the existing corpus WITHOUT re-minhashing
    it. Bucketing makes the index side of every probe join shuffle-free:
    Spark trusts the bucket layout, so only the (small) new-batch side
    moves (plan-pinned by ``test_incremental_index_probe_no_index_shuffle``).

    ``pairs_table``: also persist the corpus's own verified near-dup
    pairs (the prior dedup run's output) — the within-corpus candidate
    self-join reads the just-written bucketed index, so it is itself a
    zero-shuffle co-located join."""
    # a full rebuild reads the corpus of record — reset the family's
    # tombstone slate (engine/index_delete.py semantics)
    from dbt_on_snowflake_spark.engine.index_delete import (
        mark_engine_dir,
    )

    _drop_managed_table(spark, _mh_tombstones(index_table))
    _drop_managed_table(spark, index_table)
    write_bucketed(minhash_band_keys(docs), index_table, "band_key", n_buckets)
    mark_engine_dir(spark, index_table)  # ownership proof (pass 5 #3)
    if pairs_table is not None:
        idx = spark.table(index_table)
        a, b = idx.alias("a"), idx.alias("b")
        cand = (
            a.join(b, "band_key")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sh = docs.select(
            "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
        )
        _drop_managed_table(spark, pairs_table)
        verify_pairs(cand, sh).write.mode("overwrite").saveAsTable(pairs_table)
        mark_engine_dir(spark, pairs_table)


def _mh_tombstones(index_table: str) -> str:
    """The band-index family's tombstone-table name (the
    ``_pq_tombstones`` convention, similarity.py) — database
    qualifiers preserved."""
    from dbt_on_snowflake_spark.engine.index_delete import (
        derive_tombstones_name,
    )

    return derive_tombstones_name(
        index_table, strip="mh_band_index_", prefix="mh_tombstones_"
    )


def minhash_index_delete(
    spark: SparkSession,
    ids: DataFrame,
    *,
    index_table: str,
    pairs_table: str | None = None,
) -> None:
    """Delete documents from a persisted MinHash band index (and, when
    the family persists one, its verified-pairs side output — a pair is
    dead when EITHER endpoint is deleted, so the pairs member anti-joins
    on both doc columns). O(|ids|): tombstones only; every probe and
    pairs read gates through them immediately, and ``compact
    --indexes``'s fold rewrites the bucketed index in place (the bucket
    spec is reproduced exactly, so the zero-index-shuffle probe plans
    survive), converging bit-exactly to a rebuild without those docs."""
    from dbt_on_snowflake_spark.engine.index_delete import index_delete

    if pairs_table is None:
        # auto-include the family's CONVENTIONAL pairs sibling when it
        # exists: the fold's drop-when-empty resets the sidecar, so a
        # later delete that omitted pairs_table would otherwise narrow
        # the member set and strand dead pairs un-rewritten (r12
        # review pass 2) — the declaration must not depend on which
        # call pattern happened to run last
        from dbt_on_snowflake_spark.engine.index_delete import (
            derive_tombstones_name,
        )

        sibling = derive_tombstones_name(  # db-qualifier-preserving
            index_table, strip="mh_band_index_", prefix="mh_corpus_pairs_"
        )
        if spark.catalog.tableExists(sibling):
            pairs_table = sibling
    members = [{"table": index_table, "id_cols": ["doc_id"]}]
    if pairs_table is not None:
        members.append(
            {"table": pairs_table, "id_cols": ["doc_a", "doc_b"]}
        )
    index_delete(
        spark,
        ids,
        tombstones_table=_mh_tombstones(index_table),
        id_col="doc_id",
        members=members,
    )


def _live_index(spark: SparkSession, index_table: str) -> DataFrame:
    """The band index's live rows — tombstone-gated, exact no-op (same
    plan) until the family's first delete, so the bucketed
    zero-index-shuffle probe pins hold."""
    from dbt_on_snowflake_spark.engine.index_delete import live_rows

    return live_rows(
        spark,
        spark.table(index_table),
        _mh_tombstones(index_table),
        "doc_id",
    )


def _live_pairs(
    spark: SparkSession, pairs_table: str, index_table: str
) -> DataFrame:
    """The persisted verified-pairs rows with no deleted endpoint."""
    from dbt_on_snowflake_spark.engine.index_delete import live_rows

    tomb = _mh_tombstones(index_table)
    src = spark.table(pairs_table)
    pairs = src
    for c in ("doc_a", "doc_b"):
        pairs = live_rows(
            spark,
            pairs.withColumnRenamed(c, "doc_id"),
            tomb,
            "doc_id",
        ).withColumnRenamed("doc_id", c)
    # the renames/joins reorder columns; hand back the table's schema
    return pairs.select(src.columns)


def attach_minhash_index(
    spark: SparkSession, index_table: str, *, n_buckets: int = INDEX_N_BUCKETS
) -> None:
    """Re-attach a persisted band index in a NEW session. The sandbox
    catalog is in-memory: table METADATA (including the bucket spec)
    dies with the session that wrote it, while the bucketed parquet
    files persist in the warehouse dir. Re-issuing the CLUSTERED BY DDL
    over the existing location restores the layout contract, so probes
    in the new session still join the index in place with zero index-
    side shuffle. With a persistent metastore (Hive/Delta/Iceberg — the
    100 TB deployment) the catalog survives and this is a no-op. The
    family's persisted tombstone table (if a prior session deleted from
    this index) re-attaches alongside, or probes in the fresh session
    would serve tombstoned docs ungated (r12 advice #1)."""
    from dbt_on_snowflake_spark.engine.index_delete import (
        _managed_location,
        reattach_tombstones,
    )

    reattach_tombstones(spark, _mh_tombstones(index_table), id_col="doc_id")
    if spark.catalog.tableExists(index_table):
        return
    # resolve through the table's database, not a naive wh/<name> join
    # (mis-targets qualified/custom-LOCATION families — r13 review
    # pass 2, finding 4)
    loc = _managed_location(spark, index_table)
    spark.sql(
        f"CREATE TABLE {index_table} (doc_id BIGINT, band_key STRING) "
        f"USING parquet CLUSTERED BY (band_key) SORTED BY (band_key) "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
    )


def dedup_incremental_candidates(
    spark: SparkSession,
    new_docs: DataFrame | None,
    index_table: str,
    *,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs of a NEW document batch against a
    persisted corpus index plus within the batch itself — the
    incremental step of a continuously-fed corpus. Returns distinct
    ``(doc_a, doc_b)`` with ``doc_a < doc_b``; compose with
    ``verify_pairs`` for exact-Jaccard confirmation.

    Scale shape: the corpus index (the huge side at 100 TB) is NEVER
    shuffled — the probe join reads its buckets in place and only the
    new batch's band keys move; the batch self-join is quadratic only
    within shared buckets, like every LSH join here.

    Pass ``bands`` (precomputed ``minhash_band_keys`` output, ideally
    checkpointed) when the caller also needs the keys for something
    else — e.g. the streaming path appends them to the index after
    probing — so the minhash pass over the batch runs once, not per
    consumer."""
    new_bands = bands if bands is not None else minhash_band_keys(new_docs)
    idx = _live_index(spark, index_table)
    n, i = new_bands.alias("n"), idx.alias("i")
    vs_corpus = (
        n.join(i, "band_key")
        .filter(F.col("n.doc_id") != F.col("i.doc_id"))
        .select(
            F.least("n.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "i.doc_id").alias("doc_b"),
        )
    )
    x, y = new_bands.alias("x"), new_bands.alias("y")
    vs_new = (
        x.join(y, "band_key")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
    )
    return vs_corpus.union(vs_new).distinct()


@query(
    "dedup_minhash_deleted",
    # the oracle is the batch verified-pairs pipeline over the corpus
    # WITHOUT the deleted docs, expressed by shadowing the documents
    # view with a filtered CTE (main.documents = the registered view;
    # a bare self-reference is a circular-CTE error in DuckDB)
    oracle=_MINHASH_VERIFIED_ORACLE.replace(
        "WITH ",
        "WITH documents AS ("
        "SELECT * FROM main.documents WHERE doc_id % 10 <> 9),\n    ",
        1,
    ),
)
def dedup_minhash_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted verified-pairs state served AFTER a delete: the
    band index + pairs side output are built from the FULL corpus,
    every 10th doc is then deleted via ``minhash_index_delete``
    (tombstones only — no rewrite), and the gated pairs read must match
    the batch verified-pairs pipeline over the corpus WITHOUT those
    docs. That equality is exact by construction — band keys and
    pairwise Jaccard are per-doc/per-pair facts, so dropping every pair
    with a deleted endpoint IS the filtered recompute — and this query
    proves the delete propagates through BOTH members (index and
    pairs). Fold convergence for the family is pinned by
    ``tests/test_index_delete.py``."""
    import hashlib

    suffix = hashlib.md5(f"mhdel:{sf_dir}".encode()).hexdigest()[:8]
    index_table = f"mh_band_index_{suffix}"
    pairs_table = f"mh_corpus_pairs_{suffix}"
    d = fan_out_scan(
        spark,
        table(spark, sf_dir, "documents"),
        key_path=os.path.join(sf_dir, "documents.parquet"),
    )
    # rebuilt from scratch each call (the build+delete verification
    # surface); the build itself resets the tombstone slate
    build_minhash_index(
        spark, d, index_table=index_table, pairs_table=pairs_table
    )
    minhash_index_delete(
        spark,
        d.filter("doc_id % 10 = 9").select("doc_id"),
        index_table=index_table,
        pairs_table=pairs_table,
    )
    return _live_pairs(spark, pairs_table, index_table)


@query("dedup_incremental_index", oracle=_MINHASH_VERIFIED_ORACLE)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup, end to end: the documents table is
    split 80/20 into an EXISTING corpus and a NEW crawl batch; the
    corpus's band index and its own verified pairs are persisted (the
    state a prior dedup run leaves behind), and the new batch is deduped
    by PROBING the bucketed index — new-vs-corpus and new-vs-new
    candidates, then exact-Jaccard verification over only the candidate
    documents' shingles (semi-join pruned). Persisted corpus pairs +
    incremental pairs must equal batch-mode ``dedup_minhash_verified``
    on the full table, which is exactly this query's oracle: the
    incremental path provably loses nothing vs re-deduping from scratch.

    At 100 TB the win is the whole point of the operator: per batch,
    minhashing costs O(|batch|), not O(|corpus|), and the corpus-sized
    index is read in place (bucket-pruned, zero shuffle)."""
    import hashlib

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    index_table = f"mh_band_index_{suffix}"
    pairs_table = f"mh_corpus_pairs_{suffix}"
    d = fan_out_scan(
        spark,
        table(spark, sf_dir, "documents"),
        key_path=os.path.join(sf_dir, "documents.parquet"),
    )
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    build_minhash_index(
        spark, corpus, index_table=index_table, pairs_table=pairs_table
    )
    # localCheckpoint the BOUNDED intermediates (batch band keys,
    # candidate pairs, candidate-doc shingles): each is referenced 2-3
    # times downstream, and without the lineage cut every reference
    # re-runs the whole shingle->minhash subtree — the uncut plan is
    # 400+ operators with the signature pipeline inlined ~9x and the
    # documents scan repeated per reference (guide §3.3 "materialising
    # an intermediate truncates the plan", §5 localCheckpoint). All
    # three are O(|batch|)-bounded, never corpus-sized.
    bands = minhash_band_keys(batch).localCheckpoint()
    cand = dedup_incremental_candidates(
        spark, None, index_table, bands=bands
    ).localCheckpoint()
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = shingle_df(spark, sf_dir).join(
        ids, "doc_id", "left_semi"
    ).localCheckpoint()
    inc_pairs = verify_pairs(cand, sh)
    return _live_pairs(spark, pairs_table, index_table).unionByName(
        inc_pairs
    )


# ------------------------------------------------- source overlap matrix


@query(
    "dedup_source_overlap",
    oracle="""
    WITH tok AS (
        SELECT source, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               unnest(list_transform(range(1, len(ts) - 1),
                      g -> array_to_string(ts[g:g+2], ' '))) AS sh
        FROM tok
        WHERE len(ts) >= 3
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_shingles
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE OVERLAP MATRIX: for every pair of sources, the count
    of distinct word 3-gram shingles they share — the provenance
    analysis a crawl pipeline runs before mixing sources (two mirrors of
    the same site show up as an off-the-chart pair; so does benchmark
    text leaked into a crawl).

    Plan: distinct (source, shingle) pairs (one shuffle on the pair),
    self-equi-join on the shingle, then a map-side-combined count over
    at most C(|sources|, 2) groups. The join key is natural text — hot
    stop-phrase shingles are AQE skew-split territory, same posture as
    ``text_contamination``. Because (source, sh) is distinct before the
    join, COUNT(*) per pair IS the distinct shared-shingle count — no
    distinct aggregate, no Expand."""
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.explode(word_shingles(F.col("text"))).alias("sh")
    ).distinct()
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, "sh")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


# -------------------------- partition-pruned incremental probe (fast path)

INDEX_N_PARTS = 16  # band_part directory fan-out of the pruned index layout
PRUNED_N_BUCKETS = 8  # buckets per partition: parts x buckets = total files
# (x file size) must track corpus volume — 16x8 here; a 100 TB index wants
# 64 parts x ~1024 buckets so each bucket file stays ~128 MB. Oversharding
# a small index (64x32 was measured 6x slower at sf0.1) buries the probe
# in per-file open cost; the knobs are the deployment's to size.


def _band_part() -> F.Column:
    """Derived directory-partition key for the pruned index layout: a
    stable 64-way hash of band_key. Deterministic, so a batch can
    compute ITS OWN touched partitions and the reader can prune."""
    return F.pmod(F.xxhash64("band_key"), F.lit(INDEX_N_PARTS))


def build_minhash_index_pruned(
    spark: SparkSession,
    docs: DataFrame,
    *,
    index_table: str,
    n_buckets: int = PRUNED_N_BUCKETS,
) -> None:
    """Persist the band index PARTITIONED by ``band_part`` (64 dirs) and
    bucketed+sorted by ``band_key`` within each partition. Same probe
    semantics as ``build_minhash_index``; the extra directory level buys
    PARTITION PRUNING on probes: a batch touches a bounded set of
    band_part values, so the corpus-side index READ is proportional to
    the touched key space, not the corpus — the IO lever the plain
    bucketed layout doesn't have (bucketing kills the shuffle; this
    kills the scan). At 100 TB a daily batch probing a year-scale index
    reads ~|touched parts|/64 of it."""
    # a full rebuild reads the corpus of record — reset the family's
    # tombstone slate (engine/index_delete.py semantics)
    from dbt_on_snowflake_spark.engine.index_delete import (
        mark_engine_dir,
    )

    _drop_managed_table(spark, _mh_tombstones(index_table))
    _drop_managed_table(spark, index_table)
    (
        minhash_band_keys(docs)
        .withColumn("band_part", _band_part())
        .write.mode("overwrite")
        .format("parquet")
        .partitionBy("band_part")
        .bucketBy(n_buckets, "band_key")
        .sortBy("band_key")
        .saveAsTable(index_table)
    )
    mark_engine_dir(spark, index_table)  # ownership proof (pass 5 #3)


def attach_minhash_index_pruned(
    spark: SparkSession,
    index_table: str,
    *,
    n_buckets: int = PRUNED_N_BUCKETS,
) -> None:
    """Re-attach a PRUNED-layout band index in a new session (the
    partitioned+bucketed twin of ``attach_minhash_index``): re-issue the
    DDL over the existing location, then ``MSCK REPAIR`` to register the
    on-disk ``band_part=N`` partition directories with the fresh
    catalog — without it the attached table reads as empty. With a
    persistent metastore this is a no-op. The family's persisted
    tombstone table re-attaches alongside (r12 advice #1, same as
    ``attach_minhash_index``)."""
    from dbt_on_snowflake_spark.engine.index_delete import (
        _managed_location,
        reattach_tombstones,
    )

    reattach_tombstones(spark, _mh_tombstones(index_table), id_col="doc_id")
    if spark.catalog.tableExists(index_table):
        return
    loc = _managed_location(spark, index_table)  # db-aware (finding 4)
    spark.sql(
        f"CREATE TABLE {index_table} "
        f"(doc_id BIGINT, band_key STRING, band_part BIGINT) "
        f"USING parquet PARTITIONED BY (band_part) "
        f"CLUSTERED BY (band_key) SORTED BY (band_key) "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {index_table}")


def dedup_incremental_candidates_pruned(
    spark: SparkSession,
    new_docs: DataFrame | None,
    index_table: str,
    *,
    bands: DataFrame | None = None,
) -> DataFrame:
    """``dedup_incremental_candidates`` with the partition-pruned index
    layout: the batch's distinct band_part values (<= INDEX_N_PARTS ints
    by construction — a bounded, driver-safe collect) become a literal
    IN filter on the index scan, so only the touched index partitions
    are read. Candidate output is IDENTICAL to the unpruned probe:
    every batch key's band_part is in the filter, so no corpus row that
    could match is skipped (the driver-checked oracle is the proof).

    ``bands``: precomputed (ideally checkpointed) ``minhash_band_keys``
    output — the probe references it three times (parts collect,
    corpus probe, batch self-join), so an uncut lineage re-minhashes
    the batch per reference (the unpruned twin's contract)."""
    new_bands = bands if bands is not None else minhash_band_keys(new_docs)
    parts = [
        r[0]
        for r in new_bands.select(_band_part().alias("p")).distinct().collect()
    ]
    from dbt_on_snowflake_spark.engine.index_delete import live_rows

    idx = live_rows(
        spark,
        spark.table(index_table).filter(F.col("band_part").isin(parts)),
        _mh_tombstones(index_table),
        "doc_id",
    )
    n, i = new_bands.alias("n"), idx.alias("i")
    vs_corpus = (
        n.join(i, "band_key")
        .filter(F.col("n.doc_id") != F.col("i.doc_id"))
        .select(
            F.least("n.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "i.doc_id").alias("doc_b"),
        )
    )
    x, y = new_bands.alias("x"), new_bands.alias("y")
    vs_new = (
        x.join(y, "band_key")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
    )
    return vs_corpus.union(vs_new).distinct()


@query("dedup_incremental_pruned", oracle=_MINHASH_VERIFIED_ORACLE)
def dedup_incremental_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_index`` on the partition-pruned index layout:
    identical 80/20 split, identical output contract (corpus pairs +
    incremental pairs == batch-mode verified dedup of the whole table),
    but the probe reads ONLY the index partitions the batch's band keys
    hash into (plan-pinned by ``test_pruned_probe_partition_filters``).
    """
    import hashlib

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    index_table = f"mh_band_index_pp_{suffix}"
    pairs_table = f"mh_corpus_pairs_pp_{suffix}"
    d = fan_out_scan(
        spark,
        table(spark, sf_dir, "documents"),
        key_path=os.path.join(sf_dir, "documents.parquet"),
    )
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    build_minhash_index_pruned(spark, corpus, index_table=index_table)
    # corpus's own verified pairs from the pruned index (same semantics
    # as build_minhash_index's pairs_table side-output)
    idx = spark.table(index_table)
    a, b = idx.alias("a"), idx.alias("b")
    cand0 = (
        a.join(b, "band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sh_corpus = corpus.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
    )
    from dbt_on_snowflake_spark.engine.index_delete import (
        mark_engine_dir,
    )

    _drop_managed_table(spark, pairs_table)
    verify_pairs(cand0, sh_corpus).write.mode("overwrite").saveAsTable(
        pairs_table
    )
    mark_engine_dir(spark, pairs_table)  # ownership proof (pass 6 #3)
    # same bounded-intermediate lineage cuts as dedup_incremental_index
    # (batch bands / candidate pairs / candidate-doc shingles)
    bands = minhash_band_keys(batch).localCheckpoint()
    cand = dedup_incremental_candidates_pruned(
        spark, None, index_table, bands=bands
    ).localCheckpoint()
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = shingle_df(spark, sf_dir).join(
        ids, "doc_id", "left_semi"
    ).localCheckpoint()
    inc_pairs = verify_pairs(cand, sh)
    return _live_pairs(spark, pairs_table, index_table).unionByName(
        inc_pairs
    )


# ------------------------------------------------------ containment dedup

CONTAINMENT_THRESHOLD = 0.9


@query(
    "dedup_containment",
    oracle=f"""
    WITH {SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 4)
               AS containment
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs: |A∩B| / min(|A|, |B|) —
    the quote-inclusion/subset case Jaccard misses (a paragraph pasted
    into a much longer page has tiny Jaccard but containment ~1, and
    MinHash-LSH rarely surfaces it because the longer doc's minima
    dominate). Same inverted-index self-join shape as
    ``dedup_ngram_jaccard`` (cost Σ df(shingle)² — the exact-verifier
    bound, never all-pairs); at 100 TB run it over LSH-of-the-SHORTER-
    side candidates or length-banded blocks."""
    sh = shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    cont = F.col("n_common").cast("double") / F.least(
        F.col("sa.n"), F.col("sb.n")
    )
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a", "doc_b", "n_common", F.round(cont, 4).alias("containment")
        )
    )


# ------------------------------------------------------ passage-level dedup

PASSAGE_W = 16  # tokens per passage window


@query(
    "dedup_passages",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    p AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(ts) // {PASSAGE_W} + 1),
                   g -> array_to_string(
                       ts[(g-1)*{PASSAGE_W}+1:(g-1)*{PASSAGE_W}+{PASSAGE_W}],
                       ' ')
               )) AS passage
        FROM tok
    )
    SELECT md5(passage) AS passage_key,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM p
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE-level exact dedup — repeated boilerplate detection at
    sub-document granularity (the C4/RefinedWeb preprocessing step whole-
    document dedup misses: navigation chrome, license headers, quoted
    chunks recurring across otherwise-distinct pages). Documents are cut
    into consecutive PASSAGE_W-token windows (full windows only —
    deterministic, alignment-stable); a passage appearing in more than
    one distinct document is flagged with its spread (n_docs), total
    occurrence count and earliest carrier.

    Scale: the window cut is a narrow JVM transform riding the scan
    (explode, no UDF); the only shuffle is the groupBy on the uniform
    md5 passage key with map-side partial aggregation — skew-free by
    construction. Downstream removal is a broadcast/semi-join of the
    flagged keys back onto the passage stream."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nchunks = F.floor(F.size(toks) / PASSAGE_W).cast("int")
    seq = F.sequence(F.lit(1), nchunks)
    passages = F.when(nchunks >= 1, F.transform(
        seq,
        lambda g: F.array_join(
            F.slice(toks, (g - 1) * PASSAGE_W + 1, PASSAGE_W), " "
        ),
    )).otherwise(F.array().cast("array<string>"))
    p = d.select("doc_id", F.explode(passages).alias("passage"))
    return (
        p.groupBy(F.md5("passage").alias("passage_key"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )
