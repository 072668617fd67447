"""Text-analysis operators over the ``documents`` table (SURVEY §7.5):
language-ID (marker-ngram heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and rolling-hash document fingerprinting.

Everything is built-in string/regexp functions — JVM-side, inside
whole-stage codegen; no Python UDFs. All ratios are computed with the
same operation order in the DuckDB oracle so doubles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.registry import query
from dbt_on_snowflake_spark.testdata import local_df, table

# ------------------------------------------------------------- text stats


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           lang,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len,
           len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS type_token_ratio
    FROM documents
    """,
    headline=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens
        ).alias("avg_token_len"),
        n_unique.cast("long").alias("n_unique_tokens"),
        (n_unique.cast("double") / n_tokens).alias("type_token_ratio"),
    )


# ---------------------------------------------------------- quality score

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")
_SW_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, x -> list_contains({_SW_LIST_SQL}, x)))
                   AS n_stopwords,
               len(list_filter(toks, x -> length(x) >= 3 AND length(x) <= 12))
                   AS n_well_sized
        FROM t
    )
    SELECT doc_id, n_tokens, n_stopwords,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_well_sized AS DOUBLE) / n_tokens AS well_sized_ratio,
           ROUND(0.5 * (CAST(n_well_sized AS DOUBLE) / n_tokens)
                 + 0.5 * least(CAST(n_stopwords AS DOUBLE) / n_tokens * 5.0, 1.0),
                 4) AS quality_score
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: mix of well-sized-token ratio and
    (capped) stopword density — the shape of a real LLM-corpus quality
    filter (Gopher/C4-style rules), exactly reproducible in SQL."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_sized = F.size(F.filter(toks, lambda x: (F.length(x) >= 3) & (F.length(x) <= 12)))
    stop_ratio = n_stop.cast("double") / n_tokens
    sized_ratio = n_sized.cast("double") / n_tokens
    score = F.round(
        0.5 * sized_ratio + 0.5 * F.least(stop_ratio * 5.0, F.lit(1.0)), 4
    )
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        sized_ratio.alias("well_sized_ratio"),
        score.alias("quality_score"),
    )


# ------------------------------------------------------------ language id

_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


def _marker_count_sql(words: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter(toks, x -> list_contains({lst}, x)))"


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    scores AS (
        SELECT doc_id, lang AS labeled_lang,
               {", ".join(f"{_marker_count_sql(w)} AS c_{lang}" for lang, w in _LANG_MARKERS.items())}
        FROM t
    )
    SELECT doc_id, labeled_lang,
           CASE
               WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en > 0 THEN 'en'
               WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0 THEN 'de'
               WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
               WHEN c_es > 0 THEN 'es'
               ELSE 'unknown'
           END AS detected_lang,
           c_en, c_de, c_fr, c_es
    FROM scores
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (stopword-ngram counting — the
    classic cheap LID). Deterministic argmax with a fixed priority order
    (en > de > fr > es) on ties."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    def marker_count(words):
        arr = F.array(*[F.lit(w) for w in words])
        # single-arg lambda: a 2-arg lambda would be read as (elem, index)
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    counts = {lang: marker_count(words) for lang, words in _LANG_MARKERS.items()}
    c_en, c_de, c_fr, c_es = (counts[k] for k in ("en", "de", "fr", "es"))
    detected = (
        F.when((c_en >= c_de) & (c_en >= c_fr) & (c_en >= c_es) & (c_en > 0), "en")
        .when((c_de >= c_fr) & (c_de >= c_es) & (c_de > 0), "de")
        .when((c_fr >= c_es) & (c_fr > 0), "fr")
        .when(c_es > 0, "es")
        .otherwise("unknown")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        detected.alias("detected_lang"),
        c_en.cast("long").alias("c_en"),
        c_de.cast("long").alias("c_de"),
        c_fr.cast("long").alias("c_fr"),
        c_es.cast("long").alias("c_es"),
    )


# ----------------------------------------------------------- token counts

_BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "text_token_count",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS whitespace_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_REGEX}')))
               AS BIGINT) AS bpe_ish_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace tokens and a
    BPE-ish regex token count (letters runs / digit runs / other) — the
    pre-tokenization pass every training-data pipeline runs."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("whitespace_tokens"),
            F.sum(F.regexp_count("text", F.lit(_BPE_REGEX))).alias("bpe_ish_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


# ------------------------------------------- deterministic BPE tokenizer

# Frozen merges table, in rank order — trained offline with classic BPE
# (argmax pair frequency, deterministic count-desc/lexicographic
# tie-break) over the sf0.001 seed corpus word frequencies, then checked
# in as a constant. "Seedable": retraining with a different seed corpus
# or merge budget yields a different frozen table; the ENCODER below is
# table-driven and unchanged.
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("s", "c"), ("sc", "an"), ("c", "o"), ("m", "n"),
    ("lu", "mn"), ("co", "lumn"), ("d", "ow"), ("w", "in"),
    ("win", "dow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"), ("u", "p"), ("g", "g"), ("a", "gg"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("l", "in"),
]


def _bpe_merged_rep(w, merges: "list[tuple[str, str]] | None" = None):
    """Apply the BPE merges to one pre-token, entirely in JVM string
    expressions — NO UDF, not even a pandas one: BPE encode is exactly a
    rank-ordered chain of replace-alls, which whole-stage codegen eats.

    Two facts make the chain equivalent to the textbook iterative-argmin
    encoder (each proven by ``test_bpe_chain_matches_iterative_encoder``):

    1. rank order suffices — merging pair (a,b) only ever creates pairs
       involving the NEW symbol ab, and any such pair in a BPE-trained
       table was created after ab existed, i.e. has higher rank; so no
       lower-rank pair can become newly applicable.
    2. one replace-all per merge suffices — pieces are joined with a
       DOUBLE marker (``~~h~~e~~l~~l~~o~~``) and the pattern
       ``~a~~b~`` -> ``~ab~`` consumes one marker from each boundary,
       leaving one for the adjacent occurrence: leftmost non-overlapping
       replace-all is then exactly BPE's merge-all-occurrences step, and
       both anchors force full-piece matches (no cross-boundary or
       partial-piece merges).
    """
    s = F.concat(F.lit("~~"), F.regexp_replace(w, "(.)", "$1~~"))
    for a, b in merges if merges is not None else BPE_MERGES:
        s = F.replace(s, F.lit(f"~{a}~~{b}~"), F.lit(f"~{a}{b}~"))
    return s


def bpe_token_count(
    text_col, merges: "list[tuple[str, str]] | None" = None
) -> "F.Column":
    """Exact BPE token count of a text column under ``merges``
    (default: the frozen BPE_MERGES; pass bpe_train_merges output to
    count under a corpus-learned table) —
    pre-tokenize with _BPE_REGEX, encode each pre-token via the marker
    representation, count pieces as (markers - 2) >> 1 (each piece
    boundary is 2 markers; shiftright keeps it all-integer)."""
    pieces = lambda r: F.shiftright(  # noqa: E731
        F.length(r) - F.length(F.replace(r, F.lit("~"), F.lit(""))) - F.lit(2), 1
    ).cast("long")
    return F.aggregate(
        F.transform(
            F.transform(
                F.regexp_extract_all(text_col, F.lit(_BPE_REGEX), F.lit(0)),
                lambda w: _bpe_merged_rep(w, merges),
            ),
            pieces,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def token_count_column(kind: str = "whitespace", col: str = "text"):
    """The engine's ``token_count`` model-config switch: one place maps
    the configured counting scheme to a Column, so a pipeline flips from
    the whitespace proxy to faithful BPE counts by editing a config
    line, never an operator call (round-6 verdict, Next #6)."""
    if kind == "whitespace":
        return F.size(F.split(col, " ")).cast("long")
    if kind == "bpe":
        return bpe_token_count(col)
    raise ValueError(
        f"unknown token_count {kind!r}: expected 'whitespace' or 'bpe'"
    )


def bpe_token_count_sql(text_expr: str = "text") -> str:
    """The same BPE count as DuckDB SQL (for oracles): identical merge
    chain, identical marker arithmetic, BIGINT `//` division."""
    s = f"('~~' || regexp_replace(w, '(.)', '\\1~~', 'g'))"
    for a, b in BPE_MERGES:
        s = f"replace({s}, '~{a}~~{b}~', '~{a}{b}~')"
    return (
        "coalesce(list_sum(list_transform(list_transform("
        f"regexp_extract_all({text_expr}, '{_BPE_REGEX}'), w -> {s}), "
        "r -> (length(r) - length(replace(r, '~', '')) - 2) // 2)), 0)"
    )


@query(
    "text_token_count_bpe",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM({bpe_token_count_sql("text")}) AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS whitespace_tokens
    FROM documents
    GROUP BY source
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-FAITHFUL corpus accounting: per-source token mass under
    the frozen BPE_MERGES table — the count a training run actually
    budgets by, vs the whitespace proxy that skews per-language (CJK,
    code). Pure JVM expression chain (see _bpe_merged_rep), so it runs
    at scan speed with map-side-combined aggregation; the corpus is
    never shuffled (only the tiny per-source partials are)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_token_count("text")).alias("bpe_tokens"),
        F.sum(F.size(F.split("text", " "))).alias("whitespace_tokens"),
    )


# ----------------------------------------------------- edit distance dedup


@query(
    "text_levenshtein_pairs",
    oracle="""
    WITH p AS (SELECT doc_id, substring(text, 1, 64) AS prefix
               FROM documents WHERE doc_id < 350)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_distance
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 16
    """,
)
def text_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over 64-char prefixes of a bounded
    doc subset. Levenshtein is O(len^2) per pair and all-pairs is
    quadratic — this exact operator is a *verifier* for candidate pairs
    (LSH/fingerprint output), never a corpus-wide pass; the doc_id<100
    block models that bounded candidate set."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 350)
        .select("doc_id", F.substring("text", 1, 64).alias("prefix"))
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(dist <= 16)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("edit_distance"),
        )
    )


# ------------------------------------------------------ doc fingerprinting

FP_K = 4  # k smallest shingle hashes form the fingerprint


@query(
    "text_fingerprint",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(ts) - 3, 1)),
                      g -> array_to_string(ts[g:g+4], ' '))) AS sh
        FROM tok
    ),
    hashed AS (SELECT doc_id, md5(sh) AS h FROM sh),
    ranked AS (
        SELECT doc_id, h,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rk
        FROM hashed
    )
    SELECT doc_id,
           string_agg(h, '' ORDER BY h) AS fingerprint
    FROM ranked WHERE rk <= {FP_K}
    GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: md5 over rolling word 5-gram windows,
    keep the k smallest hashes, concatenated in order. Equal fingerprints
    => near-identical docs; the fingerprint join is an exact-match dedup
    key robust to small edits (k-min sketch)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    seq = F.sequence(F.lit(1), n - 4)
    grams = F.transform(seq, lambda g: F.md5(F.array_join(F.slice(toks, g, 5), " ")))
    fp = F.array_join(
        F.slice(F.array_sort(F.array_distinct(grams)), 1, FP_K), ""
    )
    return d.select(
        "doc_id",
        F.when(n >= 5, fp).otherwise(F.lit("")).alias("fingerprint"),
    ).filter(F.col("fingerprint") != "")


# ------------------------------------------------------- repetition ratio


@query(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    g AS (
        SELECT doc_id,
               greatest(len(ts) - 2, 0) AS n_grams,
               CASE WHEN len(ts) >= 3 THEN len(list_distinct(
                   list_transform(range(1, len(ts) - 1),
                                  i -> array_to_string(ts[i:i+2], ' '))))
                    ELSE 0 END AS n_distinct
        FROM t
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_distinct AS BIGINT) AS n_distinct_grams,
           CASE WHEN n_grams > 0
                THEN ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4) + 0.0
                ELSE 0.0 END AS repetition_ratio
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio (Gopher-style quality rule):
    fraction of word-trigram occurrences that are repeats of an earlier
    trigram in the same document. High values flag boilerplate/looping
    text that quality filters drop before training. Pure per-row column
    work — narrow, codegen'd, shuffle-free."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    seq = F.sequence(F.lit(1), n - 2)
    grams = F.transform(seq, lambda g: F.array_join(F.slice(toks, g, 3), " "))
    n_grams = F.greatest(n - 2, F.lit(0))
    n_distinct = F.when(n >= 3, F.size(F.array_distinct(grams))).otherwise(
        F.lit(0)
    )
    ratio = F.when(
        n_grams > 0,
        F.round(1.0 - n_distinct.cast("double") / n_grams, 4) + 0.0,
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n_grams.cast("long").alias("n_grams"),
        n_distinct.cast("long").alias("n_distinct_grams"),
        ratio.alias("repetition_ratio"),
    )


# ------------------------------------------------- unigram-model scoring

RARE_COUNT = 200  # corpus count below which a token counts as rare


@query(
    "text_unigram_rarity",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.cnt) AS BIGINT) AS token_mass,
           ROUND(CAST(SUM(v.cnt) AS DOUBLE) / COUNT(*), 4) AS avg_token_freq,
           ROUND(CAST(SUM(CASE WHEN v.cnt < {RARE_COUNT} THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS rare_ratio
    FROM tok t JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def text_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-model document scoring — the shape of CCNet/KenLM-style
    perplexity filtering: build a corpus vocabulary (token -> count), join
    it back to each document's tokens, and score documents by how common
    their tokens are (token_mass = sum of corpus counts; rare_ratio =
    fraction of tokens rarer than RARE_COUNT). Kept in exact-integer
    domain (counts, one final division) instead of sum-of-logs so the
    score is bit-reproducible across engines — transcendental per-token
    logs sum in engine-dependent order and drift by ulps.

    Distributed shape: token explode -> vocab aggregation (one shuffle,
    uniform token keys with partial map-side counts) -> token-vocab join
    -> per-doc aggregation. ``text_unigram_rarity_bcast`` below is the
    100 TB variant: vocabulary truncated to top-V + an OOV bucket and
    BROADCAST, collapsing the join shuffle; stop-token skew in the join
    is AQE skew-split territory (same posture as text_contamination)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    joined = tok.join(vocab, "token")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("cnt").alias("token_mass"),
        F.round(F.sum("cnt").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_token_freq"
        ),
        F.round(
            F.sum((F.col("cnt") < RARE_COUNT).cast("int")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("rare_ratio"),
    )

VOCAB_TOP_V = 1 << 16  # broadcast vocabulary size for the scale variant


@query(
    "text_unigram_rarity_bcast",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.cnt) AS BIGINT) AS token_mass,
           ROUND(CAST(SUM(v.cnt) AS DOUBLE) / COUNT(*), 4) AS avg_token_freq,
           ROUND(CAST(SUM(CASE WHEN v.cnt < {RARE_COUNT} THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS rare_ratio
    FROM tok t JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def text_unigram_rarity_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for unigram scoring (round-3 verdict item 2): the
    vocabulary is truncated to the top ``VOCAB_TOP_V`` tokens by corpus
    count (TakeOrderedAndProject — per-partition partial top-V, never a
    full sort) and BROADCAST to the score join, so the exploded token
    stream is shuffled exactly once (the vocab build) instead of twice.
    Out-of-vocabulary tokens score ``cnt = 1`` — the conservative floor:
    a token missing from the top V is rarer than the V-th token, so it
    always lands in the rare bucket, which is the decision a rarity
    filter needs. The exact variant above is the oracle: at test scale
    the whole vocabulary fits inside V, there are no OOV tokens, and the
    two are value-identical (pinned every round by the shared oracle
    SQL); at corpus scale they diverge only on sub-top-V tokens'
    token_mass/avg_token_freq, never on rare_ratio membership."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top_v = vocab.orderBy(F.desc("cnt"), "token").limit(VOCAB_TOP_V)
    joined = tok.join(F.broadcast(top_v), "token", "left")
    cnt = F.coalesce(F.col("cnt"), F.lit(1).cast("long"))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(cnt).alias("token_mass"),
        F.round(F.sum(cnt).cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_token_freq"
        ),
        F.round(
            F.sum((cnt < RARE_COUNT).cast("int")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("rare_ratio"),
    )



# ------------------------------------------------------- PII redaction

# Patterns restricted to syntax with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB): literal classes, +, {m,} — no backrefs or
# lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PII_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{PII_EMAIL_RE}',
               '[EMAIL]', 'g'), '{PII_PHONE_RE}', '[PHONE]', 'g'))
               AS redacted_md5
    FROM raw
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — a training-data pipeline's scrub
    pass: count and mask email/phone matches per document. The corpus
    text is synthetic (no organic PII), so a deterministic contact
    string derived from doc_id is appended first — every row then
    exercises a real match and the redaction is content-verified via
    md5 of the redacted text against DuckDB's RE2 replacement (the
    pattern subset used is dialect-identical).

    Scale: pure narrow map (regexp_count + regexp_replace, all JVM,
    zero shuffle); at 100 TB this runs at scan speed. Real deployments
    swap in more patterns (SSN, IP, street addresses) — same shape."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(raw, PII_EMAIL_RE, "[EMAIL]"),
        PII_PHONE_RE,
        "[PHONE]",
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
    )


# ------------------------------------------------------- top n-grams

TOP_NGRAMS_K = 20


@query(
    "text_top_ngrams",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(ts), 1)),
                      g -> array_to_string(ts[g:g+1], ' '))) AS ngram
        FROM tok
    ),
    counts AS (
        SELECT ngram, COUNT(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY ngram
    )
    SELECT ngram, n_occurrences, n_docs
    FROM counts
    ORDER BY n_occurrences DESC, ngram ASC
    LIMIT {TOP_NGRAMS_K}
    """,
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K word bigrams with document frequencies — the
    frequent-phrase surface of corpus analysis (stop-phrase discovery,
    boilerplate candidates, template detection). Scale: explode rides
    the scan; the count aggregate map-side-combines before one shuffle
    on the ngram key; the deterministic top-K (count desc, ngram asc) is
    a TakeOrderedAndProject — per-partition partial top-K, never a
    global sort."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda g: F.array_join(F.slice(toks, g, 2), " "),
    )
    # sequence(1, max(n-1, 1)) still yields one entry for a 1-token doc;
    # the oracle's range(1, 1) is empty — guard the degenerate doc
    grams = F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", F.explode(grams).alias("ngram"))
    return (
        g.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(TOP_NGRAMS_K)
    )


# ---------------------------------------------- corpus bigram coverage

COVERAGE_TOP_V = 100  # corpus bigram vocabulary for the coverage score


@query(
    "text_bigram_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)),
                      g -> array_to_string(ts[g:g+1], ' '))) AS bg
        FROM tok WHERE len(ts) >= 2
    ),
    top AS (
        SELECT bg FROM (
            SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg
            ORDER BY c DESC, bg ASC LIMIT {COVERAGE_TOP_V}
        )
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN bg IN (SELECT bg FROM top)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM bg GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_covered,
           ROUND(n_covered * 1.0 / n_bigrams, 4) + 0.0 AS coverage
    FROM per_doc
    """,
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERPLEXITY-PROXY quality score without a language model: the
    fraction of a document's word bigrams that appear in the corpus's
    top-V bigram vocabulary. Natural text scores high (its phrases are
    the corpus's phrases); gibberish, boilerplate-free machine output
    and wrong-language docs score low — the cheap first-pass filter
    before any model-based scorer, integer-exact so it oracles cleanly.

    Plan (the part that matters at 100 TB): the corpus vocabulary is ONE
    map-side-combined count shuffle + TakeOrderedAndProject (top-V, no
    global sort), collapsed to a single-row array and CROSS-JOINED
    BROADCAST onto the scan; each document then scores itself with
    array_size/filter/array_contains — the per-doc pass is completely
    shuffle-free (no doc-keyed exchange anywhere, pinned by
    test_bigram_coverage_no_doc_shuffle)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda g: F.array_join(F.slice(toks, g, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

    top = (
        d.select(F.explode(grams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("bg").asc())
        .limit(COVERAGE_TOP_V)
        .agg(F.collect_list("bg").alias("top_bgs"))
    )
    scored = d.select("doc_id", grams.alias("bgs")).crossJoin(
        F.broadcast(top)
    )
    covered = F.size(
        F.filter("bgs", lambda x: F.array_contains("top_bgs", x))
    ).cast("long")
    return scored.filter(F.size("bgs") > 0).select(
        "doc_id",
        F.size("bgs").cast("long").alias("n_bigrams"),
        covered.alias("n_covered"),
        (
            F.round(covered / F.size("bgs").cast("double"), 4) + F.lit(0.0)
        ).alias("coverage"),
    )


# ------------------------------------------------- hashed linear classifier

QC_BUCKETS = 64  # hashed feature space (fastText-style bag of buckets)
QC_MULT = 2654435761  # Knuth multiplicative constant: bucket -> weight
QC_MOD = 1997
QC_SHIFT = 998  # centers weights on 0: range [-998, 998]


def quality_score_sql(text_expr: str = "text") -> str:
    """The classifier score as DuckDB SQL (for oracles) — identical
    bucket/weight arithmetic to ``quality_score``."""
    return (
        "CAST(list_aggregate(list_transform(string_split(lower("
        + text_expr
        + "), ' '), tok -> CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT"
        f" % {QC_BUCKETS} AS BIGINT) * {QC_MULT} % {QC_MOD} - {QC_SHIFT}"
        "), 'sum') AS BIGINT)"
    )


@query(
    "text_quality_classifier",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
           CAST(list_aggregate(
               list_transform(
                   string_split(lower(text), ' '),
                   tok -> CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT
                               % {QC_BUCKETS} AS BIGINT)
                          * {QC_MULT} % {QC_MOD} - {QC_SHIFT}
               ), 'sum') AS BIGINT) AS score,
           CAST(list_aggregate(
               list_transform(
                   string_split(lower(text), ' '),
                   tok -> CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT
                               % {QC_BUCKETS} AS BIGINT)
                          * {QC_MULT} % {QC_MOD} - {QC_SHIFT}
               ), 'sum') AS BIGINT) > 0 AS keep
    FROM documents
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality model scored at scan speed:
    each token hashes into one of QC_BUCKETS feature buckets (md5-based,
    engine-portable) and contributes that bucket's weight; a document's
    score is the sum and `keep` its sign — the standard cheap quality
    gate (cf. fastText classifiers filtering CommonCrawl for
    CCNet/LLaMA-style pipelines). Weights here derive from a fixed
    multiplicative-hash formula so both engines hold bit-identical
    models in INTEGER space (a trained model would broadcast a
    bucket->weight map instead — same plan).

    Plan: one higher-order-function expression per row — no explode, no
    join, no shuffle; the whole classifier runs inside the document
    scan projection, which is what makes it viable as a 100 TB
    pre-filter."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    score = quality_score("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        score.alias("score"),
        (score > 0).alias("keep"),
    )


def quality_score(col: str = "text"):
    """The hashed-linear-model score Column (see
    ``text_quality_classifier``) — importable by engine models so a
    curation DAG applies the same gate the registered query checks."""
    toks = F.split(F.lower(F.col(col)), " ")

    def weight(tok):
        bucket = F.pmod(
            F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long"),
            F.lit(QC_BUCKETS),
        )
        return F.pmod(bucket * F.lit(QC_MULT), F.lit(QC_MOD)) - F.lit(QC_SHIFT)

    return F.aggregate(
        F.transform(toks, weight), F.lit(0).cast("long"), lambda a, x: a + x
    )


# ----------------------------------------------------------- BPE training

BPE_TRAIN_MERGES = 8  # merge budget for the registered trainer query


def _bpe_symbols(state):
    """Symbol list of a marker-rep Column (``~~h~~e~~`` -> [h, e])."""
    return F.filter(F.split(state, "~~"), lambda x: x != "")


def _bpe_pairs(state):
    """Adjacent symbol pairs of a marker-rep Column, overlap-counted —
    the textbook BPE pair statistic ("aaa" counts (a,a) twice)."""
    syms = _bpe_symbols(state)
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda j: F.struct(
                F.element_at(syms, j).alias("a"),
                F.element_at(syms, j + 1).alias("b"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )


BPE_BATCH_CANDIDATES = 64  # top-K pairs fetched per aggregate pass


def _bpe_batch_from_top(
    top: list, budget: int, complete: bool
) -> list[tuple[str, str, int]]:
    """Greedy prefix of the sorted top-K pair list that the SEQUENTIAL
    trainer would provably pick in the same order — the merge-batching
    optimization, equivalence argument:

    A merge (a, b) only changes counts of pairs touching a or b, and any
    NEW pair it creates (involving the merged symbol) is bounded by a
    pre-merge pair's count that also touches a or b. So candidate p_i
    is safe to take after p_1..p_{i-1} iff (1) p_i shares no symbol
    with them and (2) no OTHER pair with count >= c_i shares a symbol
    with them (such a pair could, post-merge, still outrank p_i — or
    spawn a new pair that ties it and wins the lexicographic
    tie-break). With the list sorted (count DESC, a, b), pairs ranked
    above p_i are exactly the taken prefix, so (2) reduces to scanning
    the remaining candidates with c == c_i; below the K-th count the
    list is blind, hence the `floor` cutoff unless it is complete."""
    out: list[tuple[str, str, int]] = []
    syms: set[str] = set()
    floor = None if complete else top[-1].c
    for i, r in enumerate(top):
        if len(out) >= budget:
            break
        if out:
            if floor is not None and r.c <= floor:
                break
            if r.a in syms or r.b in syms:
                break
            conflict = any(
                q.c >= r.c and (q.a in syms or q.b in syms)
                for q in top[i + 1:]
            )
            if conflict:
                break
        out.append((r.a, r.b, int(r.c)))
        syms.add(r.a)
        syms.add(r.b)
    return out


def bpe_train_merges(
    words: DataFrame,
    n_merges: int,
    batch_candidates: int = BPE_BATCH_CANDIDATES,
    _stats: dict | None = None,
) -> list[tuple[str, str, int]]:
    """Learn a BPE merge table FROM a word-frequency DataFrame
    ``(w, freq)`` — the distributed trainer whose frozen output format is
    ``BPE_MERGES``. Classic Sennrich et al. (ACL 2016) BPE with the
    deterministic count-DESC / (a, b)-lexicographic tie-break.

    Scale design: the corpus is NEVER touched here — training state is
    the word-frequency table (vocab-sized, orders of magnitude smaller
    than the corpus; the single corpus pass happens in the caller's
    word-count aggregate). Each PASS is one vocab-level pair-count
    aggregate + a top-K collect (bounded control plane) + one narrow
    marker-string replace chain; ``_bpe_batch_from_top`` then applies
    as many provably-independent merges per pass as the statistics
    allow (r8: cuts the driver round-trips of a 32k-vocab training run
    by the mean batch size — merges stay bit-identical to the
    sequential trainer, see ``test_bpe_batched_trainer_property``).
    ``batch_candidates=1`` degenerates to the sequential r7 trainer.
    ``_stats`` (tests) receives {"passes": n}. Returns
    [(left, right, pair_count), ...] in rank order."""
    state = words.select(
        "freq",
        F.concat(
            F.lit("~~"), F.regexp_replace("w", "(.)", "$1~~")
        ).alias("s"),
    ).localCheckpoint(eager=True)  # cut lineage: state re-derives per pass
    out: list[tuple[str, str, int]] = []
    passes = 0
    while len(out) < n_merges:
        k = max(1, batch_candidates)
        top = (
            state.select(F.explode(_bpe_pairs(F.col("s"))).alias("p"), "freq")
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(k)
            .collect()
        )
        passes += 1
        if not top:
            break
        taken = _bpe_batch_from_top(
            top, n_merges - len(out), complete=len(top) < k
        )
        out.extend(taken)
        s = F.col("s")
        for a, b, _ in taken:
            # disjoint merges: the replaces commute and cannot create or
            # destroy one another's match sites, so one chained select
            # applies the whole batch
            s = F.replace(s, F.lit(f"~{a}~~{b}~"), F.lit(f"~{a}{b}~"))
        state = state.select("freq", s.alias("s")).localCheckpoint(eager=True)
    if _stats is not None:
        _stats["passes"] = passes
    return out


def _bpe_train_oracle(n_merges: int) -> str:
    """DuckDB replay of the identical trainer: chained CTEs, one
    (pairs -> 1-row argmax -> replace) stage per merge rank."""
    ctes = [
        f"""
    state_0 AS (
        SELECT COUNT(*) AS freq,
               ('~~' || regexp_replace(w, '(.)', '\\1~~', 'g')) AS s
        FROM (
            SELECT unnest(regexp_extract_all(text, '{_BPE_REGEX}')) AS w
            FROM documents
        )
        GROUP BY w
    )"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes.append(f"""
    syms_{i} AS (
        SELECT freq, list_filter(string_split(s, '~~'), x -> x <> '') AS l
        FROM state_{p}
    ),
    pairs_{i} AS (
        SELECT l[j] AS a, l[j + 1] AS b, SUM(freq) AS c
        FROM syms_{i}, UNNEST(range(1, len(l))) AS t(j)
        GROUP BY 1, 2
    ),
    m_{i} AS (
        SELECT a, b, c FROM pairs_{i}
        ORDER BY c DESC, a ASC, b ASC LIMIT 1
    ),
    state_{i} AS (
        SELECT s0.freq,
               replace(s0.s, '~' || m.a || '~~' || m.b || '~',
                       '~' || m.a || m.b || '~') AS s
        FROM state_{p} s0 CROSS JOIN m_{i} m
    )""")
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, a AS left_sym, b AS right_sym,"
        f" CAST(c AS BIGINT) AS pair_count FROM m_{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH" + ",".join(ctes) + "\n    " + finals


@query(
    "text_bpe_train_merges",
    oracle=_bpe_train_oracle(BPE_TRAIN_MERGES),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE TRAINING over the documents corpus: learn the
    first 8 merges (rank, left, right, pair count). One corpus pass
    builds the word-frequency table; every iteration after that is
    vocab-sized (see bpe_train_merges) — the standard way BPE trains on
    a 100 TB corpus without 8 corpus scans. The DuckDB oracle replays
    the byte-identical iterations as chained CTEs, so the learned MODEL
    (not just a scoring) is hash-checked across engines. The 8-row
    output is assembled driver-side from the per-iteration argmax rows
    — model-sized, not corpus-sized."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all("text", F.lit(_BPE_REGEX), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_train_merges(words, BPE_TRAIN_MERGES)
    # single-slice local relation: the 8-row model as 1 task / 1 file,
    # not defaultParallelism empty slices (testdata.local_df)
    return local_df(
        spark,
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, left_sym string, right_sym string, pair_count long",
    )


def _bpe_trained_count_oracle() -> str:
    """Oracle for the train->encode round trip: the training CTEs learn
    m_1..m_N, a 1-row cross join exposes them as columns, and each
    document's pre-tokens encode through the SAME marker replace chain —
    driven by the learned columns instead of frozen literals."""
    n = BPE_TRAIN_MERGES
    train = _bpe_train_oracle(n)
    # _bpe_train_oracle ends with the UNION ALL merges select; keep only
    # the WITH ... state/m CTE chain
    ctes = train.split("\n    SELECT CAST(1 AS BIGINT) AS rank")[0]
    mrow_cols = ", ".join(
        f"m_{i}.a AS a{i}, m_{i}.b AS b{i}" for i in range(1, n + 1)
    )
    mrow_from = ", ".join(f"m_{i}" for i in range(1, n + 1))
    rep = "('~~' || regexp_replace(w, '(.)', '\\1~~', 'g'))"
    for i in range(1, n + 1):
        rep = (
            f"replace({rep}, '~' || mr.a{i} || '~~' || mr.b{i} || '~',"
            f" '~' || mr.a{i} || mr.b{i} || '~')"
        )
    return f"""{ctes},
    mrow AS (SELECT {mrow_cols} FROM {mrow_from})
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(coalesce(list_sum(list_transform(
               regexp_extract_all(d.text, '{_BPE_REGEX}'),
               w -> (length({rep}) - length(replace({rep}, '~', '')) - 2) // 2
           )), 0)) AS BIGINT) AS trained_bpe_tokens
    FROM documents d CROSS JOIN mrow mr
    GROUP BY d.source
    """


@query(
    "text_token_count_bpe_trained",
    oracle=_bpe_trained_count_oracle(),
)
def text_token_count_bpe_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full TRAIN -> ENCODE round trip: learn BPE_TRAIN_MERGES merges
    from this corpus (text_bpe_train_merges), then count every document's
    tokens under the LEARNED table — proving the encoder is table-driven
    end to end (flip a corpus, get its tokenizer; the frozen BPE_MERGES
    path is untouched). Training cost is vocab-sized per iteration; the
    count is the same scan-speed replace chain as the frozen path. The
    oracle re-learns the merges in SQL and encodes with them via a 1-row
    learned-columns cross join — model AND counts hash-checked."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all("text", F.lit(_BPE_REGEX), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    learned = [
        (a, b) for a, b, _ in bpe_train_merges(words, BPE_TRAIN_MERGES)
    ]
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_token_count("text", merges=learned))
        .cast("long")
        .alias("trained_bpe_tokens"),
    )


# ------------------------------------------------------------ BM25 retrieval

# Fixed keyword query for the parity surface; any term list works the
# same. Okapi BM25 with the Lucene idf form (always positive).
BM25_TERMS = ("spark", "vector", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_N = 10


def bm25_ranked_cte(depth: int, docs_src: str = "documents") -> str:
    """DuckDB CTE chain ending in ``b_ranked`` = the top-``depth`` BM25
    ranking (doc_id, score, rank) over ``docs_src`` (the documents view
    by default; the tombstone-delete oracle passes a filtered subquery).
    Every fractional constant is
    ::DOUBLE-coerced: DuckDB parses bare decimals as DECIMAL and its
    exact decimal division diverges from Spark's IEEE double division at
    the ulp level — below the 4dp rounding grain almost always, but
    "almost" is not a parity contract."""
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{t}'))"
        f" AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    terms = " + ".join(
        f"(ln((s.n_docs - s.df_{i} + 0.5::DOUBLE)"
        f" / (s.df_{i} + 0.5::DOUBLE) + 1.0::DOUBLE)"
        f" * (d.tf_{i} * {BM25_K1 + 1.0}::DOUBLE)"
        f" / (d.tf_{i} + {BM25_K1}::DOUBLE"
        f" * ({1.0 - BM25_B}::DOUBLE"
        f" + {BM25_B}::DOUBLE * d.dl / s.avgdl)))"
        for i in range(len(BM25_TERMS))
    )
    return f"""b_d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl, {tf_cols}
        FROM {docs_src}
    ),
    b_s AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {df_cols}
        FROM b_d
    ),
    b_scored AS (
        SELECT d.doc_id, ROUND({terms}, 4) + 0.0 AS score
        FROM b_d d CROSS JOIN b_s s
    ),
    b_ranked AS (
        SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY score DESC, doc_id ASC
            ) AS rank
            FROM b_scored
        ) WHERE rank <= {depth}
    )"""


def _bm25_score_and_rank(
    base: DataFrame, stats_row: DataFrame, depth: int
) -> DataFrame:
    """The shared BM25 scoring + rank stage: ``base`` is
    (doc_id, dl, tf_0..tf_{n-1}), ``stats_row`` is ONE row
    (n_docs, avgdl, df_0..df_{n-1}). Used verbatim by the recompute
    path (stats aggregated from the scan) and the indexed serve path
    (stats read from the persisted index), so the float expression —
    per-term scores summed in fixed term order — is bit-identical in
    both, and both stay bit-identical to the oracle's left-to-right
    sum. The global top-N is TakeOrderedAndProject (per-partition heads
    + one tiny merge, never a full sort)."""
    scored = base.crossJoin(F.broadcast(stats_row))
    expr = None
    for i in range(len(BM25_TERMS)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf_{i}")
        term = idf * (tf * (BM25_K1 + 1.0)) / (
            tf
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        expr = term if expr is None else expr + term
    scored = scored.select(
        "doc_id", (F.round(expr, 4) + 0.0).alias("score")
    )
    top = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(depth)
    # unpartitioned window is BOUNDED: it runs over the limit's
    # ``depth`` rows, never the corpus
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def bm25_topn(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """Top-``depth`` BM25 ranking as a DataFrame (doc_id, score, rank) —
    the shared retrieval stage behind text_bm25_topk and the hybrid RRF
    fusion.

    Plan: per-doc term frequencies are ``size(filter(tokens, ...))`` —
    narrow codegen'd array work, NO explode/shuffle of a token table;
    corpus stats (N, avgdl, per-term df) are ONE tiny aggregate row
    broadcast back over the scan. Two corpus scans, zero corpus-sized
    shuffles at any scale — this scan form is also the index-BUILD cost
    of ``build_text_index``; a served corpus runs
    ``bm25_topn_indexed`` instead."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def tf_col(term: str):
        # single-arg lambda: a 2-arg lambda would be read as (elem, idx)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = d.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_col(t).alias(f"tf_{i}") for i, t in enumerate(BM25_TERMS)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    return _bm25_score_and_rank(base, stats, depth)


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {bm25_ranked_cte(BM25_TOP_N)}
    SELECT doc_id, score, rank FROM b_ranked
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval: top-N documents for a fixed term
    query — the lexical half of a hybrid (BM25 + dense) retrieval
    stack, and the classic relevance score for corpus search. idf uses
    the Lucene ln(1 + (N - df + .5)/(df + .5)) form; k1=1.2, b=0.75;
    scores round to 4 decimals with doc_id tie-break so ranking is
    deterministic across engines. Plan notes: see ``bm25_topn``."""
    return bm25_topn(spark, sf_dir, BM25_TOP_N)


# ------------------------------------------- persisted BM25 (text) index

TEXT_INDEX_N_PARTS = 16  # term_part directory fan-out of the postings


def _term_part() -> F.Column:
    """Directory-partition key for postings: hashing the term into a
    bounded fan-out (the dedup band-index layout, dedup.py:1141) keeps
    the directory count fixed at any vocabulary size while a probe for
    K query terms prunes to <= K of the {TEXT_INDEX_N_PARTS} dirs."""
    return F.pmod(F.xxhash64("term"), F.lit(TEXT_INDEX_N_PARTS))


def _text_df_table(postings_table: str) -> str:
    """The family's persisted per-term df table name, derived from the
    postings table exactly like ``_text_tombstones`` — so the build,
    the append's merge, the fold's rebuild and every serve resolve the
    SAME table for any suffix (fingerprinted, incremental, ad-hoc).

    Schema: (term, df, gen, bkey) partitioned by term_part — the
    Lucene-style per-term document frequency, persisted so the pristine
    serve reads idf inputs from <= K pruned partition dirs instead of
    re-counting df over the doclen-spine/postings join (r18: that
    second corpus-width pass was every pristine serve's biggest
    remaining cost; VERDICT r17 Next #3).

    - ``df``: number of docs containing ``term`` contributed by one
      write (the full corpus for build/fold rows, one ingest batch for
      append rows). A serve SUMs the contributions per term — exact,
      because batches are doc-disjoint (the append's idempotence probe)
      and build/fold rows are written with mode("overwrite").
    - ``bkey``: the writing batch's content fingerprint — the append's
      at-least-once dedup key (a redelivered batch's df merge is
      skipped when its bkey already landed, the same way redelivered
      doclen rows are dropped by the doclen probe).
    - ``gen``: the validity gate — the committed doclen row count the
      batch observed at append time plus the batch size; 0 for
      build/fold rows. A serve accepts a row only when
      gen <= stats.n_docs, so df rows of a batch whose doclen commit
      record has NOT landed yet (a crash between the df merge and the
      doclen write) are invisible, preserving the family's exactness
      posture: uncommitted postings never skew a served idf. The gate
      assumes appends are sequential per family with redelivery-before
      -next-batch (the Structured Streaming micro-batch contract this
      family is maintained under)."""
    from dbt_on_snowflake_spark.engine.index_delete import (
        derive_tombstones_name,
    )

    return derive_tombstones_name(
        postings_table, strip="bm25_postings_", prefix="bm25_df_"
    )


_TERM_PARTS_CACHE: dict[tuple[str, ...], list[int]] = {}


def _term_parts(spark: SparkSession, terms: list[str]) -> list[int]:
    """The query terms' partition values, computed through the same
    xxhash64 the build used (the dedup incremental-probe precedent,
    dedup.py:1220). Bounded collect (<= |terms| rows), cached per term
    tuple: the hash of a constant term never changes, so serving pays
    this one-task job once per process, not once per query."""
    key = tuple(terms)
    if key not in _TERM_PARTS_CACHE:
        _TERM_PARTS_CACHE[key] = [
            r.p
            for r in spark.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            .select(_term_part().alias("p"))
            .distinct()
            .collect()
        ]
    return _TERM_PARTS_CACHE[key]


def build_text_index(
    spark: SparkSession,
    d: DataFrame,
    *,
    stats_table: str,
    postings_table: str,
    doclen_table: str,
) -> None:
    """Persist the lexical serving artifact — the 'index once, query
    many' counterpart of ``build_ann_index``/``build_pq_index`` that the
    r9 verdict flagged as missing (SCALING.md conceded every BM25/hybrid
    query paid two full corpus scans):

    - ``postings``: the inverted index (term, doc_id, tf, dl),
      PARTITIONED BY term_part so a query for K terms reads <= K
      partition dirs, never the corpus. dl is denormalized onto each
      posting (the Lucene norms trick) so scoring needs no doc join.
    - ``doclen``: (doc_id, dl) — 16 bytes/doc vs KBs of text; the serve
      path's only corpus-width relation (see ``bm25_topn_indexed``).
    - ``stats``: ONE row (n_docs, avgdl), computed with the exact
      expression the recompute path aggregates, so persisted avgdl is
      the identical double.
    - ``df`` (r18): per-term document frequency (``_text_df_table``
      docstring) aggregated from the just-written postings — one
      narrow postings-table pass at build time buys every pristine
      serve out of re-counting df over the spine/postings join.

    The token explode + (term, doc_id) groupBy here is the one-time
    index-build shuffle; serving never repeats it."""
    from dbt_on_snowflake_spark.operators.dedup import _drop_managed_table

    # a full rebuild reads the corpus of record, so prior serving-level
    # deletes are either embodied in it or obsolete — reset the
    # family's tombstone slate (engine/index_delete.py semantics)
    _drop_managed_table(spark, _text_tombstones(postings_table))
    toks = F.split("text", " ")
    lens = d.select("doc_id", F.size(toks).alias("dl"))
    from dbt_on_snowflake_spark.engine.index_delete import (
        mark_engine_dir,
    )

    _drop_managed_table(spark, doclen_table)
    lens.write.mode("overwrite").saveAsTable(doclen_table)
    mark_engine_dir(spark, doclen_table)  # ownership proof (pass 5 #3)
    lens_t = spark.table(doclen_table)

    _drop_managed_table(spark, stats_table)
    lens_t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    ).write.mode("overwrite").saveAsTable(stats_table)
    mark_engine_dir(spark, stats_table)

    postings = (
        d.select(
            "doc_id",
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn("term_part", _term_part())
    )
    _drop_managed_table(spark, postings_table)
    (
        # same repartition-before-partitionBy discipline as the ANN/PQ
        # builders: one hash shuffle on the partition key collapses the
        # (input partitions x dirs) small-file explosion to ~1 file/dir
        postings.repartition("term_part")
        .write.mode("overwrite")
        .partitionBy("term_part")
        .saveAsTable(postings_table)
    )
    mark_engine_dir(spark, postings_table)

    # per-term df, aggregated from the just-written postings (unique
    # (term, doc_id) rows by the groupBy above, so count == df). gen=0:
    # build rows are valid at every committed state (_text_df_table)
    df_table = _text_df_table(postings_table)
    _drop_managed_table(spark, df_table)
    (
        spark.table(postings_table)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term",
            "df",
            F.lit(0).cast("long").alias("gen"),
            F.lit("build").alias("bkey"),
            _term_part().alias("term_part"),
        )
        .repartition("term_part")
        .write.mode("overwrite")
        .partitionBy("term_part")
        .saveAsTable(df_table)
    )
    mark_engine_dir(spark, df_table)


def _text_index_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """Build-once text-index table names, keyed on a (path, size,
    mtime) corpus fingerprint like every ensure_* family (r11 review):
    a regenerated corpus at the same path rotates the suffix so the
    next serve rebuilds instead of silently reading stale postings;
    the superseded tables are GC'd when ensure_text_index rebuilds.
    Deterministic across sessions (same files => same names), so a
    fresh session re-attaches the same tables."""
    from dbt_on_snowflake_spark.testdata import index_suffix

    suffix = index_suffix(spark, sf_dir, "text", "documents")
    return (
        f"bm25_stats_{suffix}",
        f"bm25_postings_{suffix}",
        f"bm25_doclen_{suffix}",
    )


def bm25_topn_indexed(
    spark: SparkSession,
    sf_dir: str,
    depth: int,
    tables: tuple[str, str, str] | None = None,
) -> DataFrame:
    """``bm25_topn`` SERVED from the persisted text index: the plan
    never touches documents.parquet (plan-pinned) — term frequencies
    come from the postings partitions of the queried terms (a
    term_part-pruned read proportional to the terms' posting lists, not
    the corpus), per-term df from the equally-pruned persisted df table
    (r18 — previously a second evaluation of the whole spine/postings
    join subtree per serve), and n_docs/avgdl is the persisted one-row
    stats table.

    The one corpus-WIDTH relation in the plan is the (doc_id, dl)
    doclen table — 2 ints/doc, ~100-1000x narrower than the text — left
    -joined with the matched docs so zero-match documents still score
    an exact 0.0: the recompute path ranks ALL docs, and serving from
    the index must not change a single result row (it shares the
    recompute oracle verbatim), including on a degenerate corpus where
    fewer than ``depth`` docs match any term. A Lucene-style match-only
    serve would drop that join; it is kept for the exactness contract
    and costs one narrow scan.

    The read is AT-LEAST-ONCE TOLERANT on the postings side: a crash
    between ``text_index_append``'s postings and doclen writes leaves
    postings rows a retried batch appends again as exact duplicates,
    and the postings aggregate here is duplicate-idempotent (per-doc
    tf via MAX). Orphans — docs whose postings landed but whose doclen
    row (written last, the batch's commit record) did not — are
    invisible: the result rows are doclen-spine-gated (left join from
    the spine), and df (r18) is read from the persisted df table,
    which only carries a batch's contribution once its ``gen`` gate is
    satisfied by the committed stats row (``_text_df_table``). So the
    serve reads the exact pre-batch index state until the retry
    commits — uncommitted postings never skew a served idf. The doclen
    spine is duplicate-free by the append's idempotence probe, so it
    joins without a dedup pass; the df table is redelivery-deduplicated
    by the append's bkey probe, so its per-term SUM is exact.

    DELETED docs (``text_index_delete`` tombstones) are invisible the
    same way orphans are: the doclen spine is gated through
    ``live_rows`` — a broadcast anti-join that is an exact no-op (same
    plan) until the family's first delete — so a tombstoned doc is in
    neither the result set nor any df count. n_docs/avgdl AND df
    switch from the persisted tables to a LIVE aggregate over the
    gated rows whenever a tombstone table exists: the tombstone append
    is the delete's only commit record, and reading persisted stats
    then would serve pre-delete idf weights until the fold refreshes
    them (engine/index_delete.py's crash posture — correct at every
    point between delete and fold)."""
    from dbt_on_snowflake_spark.engine.index_delete import (
        has_tombstones,
        live_rows,
    )

    stats_t, postings_t, doclen_t = tables or _text_index_tables(
        spark, sf_dir
    )
    tomb_t = _text_tombstones(postings_t)
    terms = list(BM25_TERMS)
    parts = _term_parts(spark, terms)
    p = (
        spark.table(postings_t)
        .filter(F.col("term_part").isin(parts))
        .filter(F.col("term").isin(terms))
    )
    matches = p.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("tf")))
            .alias(f"mtf_{i}")
            for i, t in enumerate(terms)
        ]
    )
    deleted = has_tombstones(spark, tomb_t)
    spine = live_rows(spark, spark.table(doclen_t), tomb_t, "doc_id")
    base = (
        spine
        .join(matches, "doc_id", "left")
        .select(
            "doc_id",
            "dl",
            *[
                F.coalesce(F.col(f"mtf_{i}"), F.lit(0)).alias(f"tf_{i}")
                for i in range(len(terms))
            ],
        )
    )
    if deleted:
        # while tombstones exist, EVERY stat is computed live over the
        # gated base (the persisted df/stats still count the deleted
        # docs until the fold rewrites them). df over BASE, not over
        # matches: base is gated by the doclen spine (the append's
        # commit record), so a doc whose postings landed but whose
        # batch crashed before the doclen write — an orphan awaiting
        # redelivery — contributes to NEITHER df nor the result rows.
        # n_docs/avgdl RIDE the same aggregate (r17): base has exactly
        # one row per live spine row (matches is per-doc unique, the
        # join is a left), so COUNT/SUM(dl) over base equal the spine
        # aggregates bit for bit and one pass yields stats AND df —
        # the exact expressions build_text_index persists, evaluated
        # over the post-delete rows (long-SUM/COUNT, so bit-identical
        # to a rebuild over the shrunken corpus).
        stats_row = base.groupBy().agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias(
                "avgdl"
            ),
            *[
                F.coalesce(
                    F.sum((F.col(f"tf_{i}") > 0).cast("long")), F.lit(0)
                ).alias(f"df_{i}")
                for i in range(len(terms))
            ],
        )
    else:
        # pristine serve (r18): per-term df comes from the PERSISTED
        # df table — <= K pruned partition dirs summed per term —
        # instead of a second evaluation of the spine/postings join
        # subtree (which re-scanned the corpus-width doclen table and
        # the pruned postings once more per serve). SUM of the
        # build/append contributions is exact: batches are
        # doc-disjoint (append's idempotence probe) and redeliveries
        # are bkey-deduplicated. The gen <= n_docs gate keeps df rows
        # of a batch whose doclen commit has not landed invisible, so
        # uncommitted postings still never skew a served idf
        # (_text_df_table docstring).
        df_t = _text_df_table(postings_t)
        gate = F.broadcast(
            spark.table(stats_t).select(
                F.col("n_docs").alias("_gate_n")
            )
        )
        # coalesce(1): the pruned df read is VOCABULARY-bounded (<= K
        # partition dirs for K fixed terms — never corpus-bounded), so
        # a single task is the right shape for this statistics read;
        # it also makes the global aggregate exchange-free (the input
        # already satisfies SinglePartition), keeping the serve's
        # stage count at its pre-r18 level. At extreme vocabularies
        # the per-dir size is controlled by TEXT_INDEX_N_PARTS.
        dfr = (
            spark.table(df_t)
            .filter(F.col("term_part").isin(parts))
            .filter(F.col("term").isin(terms))
            .crossJoin(gate)
            .filter(F.col("gen") <= F.col("_gate_n"))
            .coalesce(1)
        )
        df_row = dfr.groupBy().agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("term") == t, F.col("df"))),
                    F.lit(0),
                ).alias(f"df_{i}")
                for i, t in enumerate(terms)
            ]
        )
        stats_row = spark.table(stats_t).crossJoin(F.broadcast(df_row))
    return _bm25_score_and_rank(base, stats_row, depth)


@query(
    "text_bm25_topk_indexed",
    oracle=None,  # set below
    headline=True,  # benched: the serve-vs-scan gap is the index's value
)
def text_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_bm25_topk`` served from ``build_text_index``'s persisted
    tables — the 100 TB operating mode, where the inverted index is
    built once per corpus version and every query reads posting lists
    + a narrow doclen table instead of re-tokenizing the text. Serving
    must not change a single result row, so it shares the recompute
    path's oracle verbatim (the ``ann_pq_rerank_indexed`` precedent,
    similarity.py). Index built once on first call (the
    ``dedup_semantic_served`` convention: under its own job group so
    bench stage counts show the serve path only); subsequent calls are
    pure posting-list reads."""
    tables = ensure_text_index(spark, sf_dir)
    return bm25_topn_indexed(spark, sf_dir, BM25_TOP_N, tables=tables)


def ensure_text_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """Build the persisted text index for ``sf_dir`` if absent — shared
    by the lexical and hybrid serve twins so they read ONE artifact per
    corpus. Probes ALL THREE tables, not just the postings: a crashed
    compaction swap can drop one table of the family while its siblings
    survive (index_maintenance.py's crash window), and a postings-only
    probe would then skip the rebuild and leave every serve throwing
    TABLE_OR_VIEW_NOT_FOUND on the missing sibling until the next
    maintenance sweep. The builds all write ``mode("overwrite")``, so a
    partial rebuild simply replaces the survivors. The build runs under
    its own job group so bench stage counts show the serve path only
    (dedup_semantic_served precedent).

    Returns the (stats, postings, doclen) tuple it probed/built so
    callers serve EXACTLY those tables (r11 review, second pass): the
    fingerprinted names can rotate between two listings if the corpus
    regenerates mid-serve, and a second `_text_index_tables` call would
    then name never-built tables — besides doubling the per-serve
    corpus listing."""
    from dbt_on_snowflake_spark.testdata import ensure_index_tables

    stats_t, postings_t, doclen_t = _text_index_tables(spark, sf_dir)
    tables = (stats_t, postings_t, doclen_t)
    ensure_index_tables(
        spark,
        # the probe covers the df sibling too (same crashed-swap
        # posture; also rebuilds a pre-r18 family that predates the
        # persisted df table), but the returned tuple stays the
        # 3-name serve surface — df is derived from the postings name
        tables=tables + (_text_df_table(postings_t),),
        job_group="text_index",
        gc_prefixes=(
            "bm25_stats_",
            "bm25_postings_",
            "bm25_doclen_",
            "bm25_df_",
            "bm25_tombstones_",
        ),
        gc_suffix=stats_t.removeprefix("bm25_stats_"),
        build=lambda: build_text_index(
            spark,
            table(spark, sf_dir, "documents"),
            stats_table=stats_t,
            postings_table=postings_t,
            doclen_table=doclen_t,
        ),
    )
    return tables


def _set_bm25_indexed_oracle() -> None:
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["text_bm25_topk_indexed"].oracle = QUERIES[
        "text_bm25_topk"
    ].oracle


_set_bm25_indexed_oracle()


# ------------------------------------- incremental text-index maintenance

# Deterministic corpus/new-batch split for the registered query — the
# ann_index_append convention (similarity.py): every 10th doc arrives
# "later" and is appended against the index built from the rest.
_NEW_DOCS_PRED = "doc_id % 10 = 9"
_BASE_DOCS_PRED = "doc_id % 10 <> 9"


def _batch_fingerprint(new_docs: DataFrame) -> tuple[int, str]:
    """(size, content key) of an append batch — ONE bounded job: the
    size feeds the gen stamp and the empty-batch short-circuit, the key
    is the df merge's at-least-once dedup token. Order-free (bit_xor
    never overflows, and batches are doc-unique by the doclen contract
    so xor cannot cancel a pair) and deterministic across redeliveries
    of the same surviving doc set."""
    import hashlib

    fp = new_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
        F.expr("bit_xor(xxhash64(doc_id))").alias("xh"),
    ).first()
    bkey = hashlib.md5(
        f"{fp['n']}:{fp['mn']}:{fp['mx']}:{fp['xh']}".encode()
    ).hexdigest()
    return int(fp["n"]), bkey


def text_index_append(
    spark: SparkSession,
    new_docs: DataFrame,
    *,
    stats_table: str,
    postings_table: str,
    doclen_table: str,
) -> None:
    """Append NEW documents to a persisted text index built by
    ``build_text_index`` — the per-ingest-batch maintenance path,
    mirroring ``ann_index_append``'s probe-then-grow contract:

    - the batch is first made IDEMPOTENT: docs already in the doclen
      table are dropped (a re-delivered at-least-once batch — stream
      retry, checkpoint-less restart — becomes a no-op). The probe is
      one broadcast join streaming the narrow doclen table (batch ids
      broadcast, doclen never shuffled), then a broadcast anti-join of
      the tiny duplicate-id list back onto the batch;
    - each surviving doc's postings land in the term_part-partitioned
      table via dynamic partition append (clustered on term_part
      first, so a batch adds ~1 file per touched partition, not
      |input partitions| x |dirs|); existing partitions' files are
      untouched — postings are per-doc facts, so append IS the correct
      merge;
    - the batch's per-term df contributions merge into the persisted
      df table (r18, ``_text_df_table``) BETWEEN the postings and
      doclen writes: the merge is idempotent under at-least-once
      redelivery (``bkey``, the batch's content fingerprint — a retry
      whose df rows already landed skips the write, keeping the
      serve's SUM-of-contributions exact) and invisible until
      committed (``gen``, stamped as observed-stats-n_docs + batch
      size: the serve only accepts rows once the doclen commit +
      stats refresh raise n_docs to gen, so a crash between the df
      merge and the doclen write never skews a served idf);
    - doclen rows append AFTER the postings, so doclen doubles as the
      batch's commit record: a crash between the two writes leaves
      postings for docs the idempotence probe still treats as new, the
      retry re-appends them as exact duplicates, and the serve reads
      collapse those (``bm25_topn_indexed``'s MAX/count-over-matches
      aggregates). doclen itself stays duplicate-FREE by the probe, so
      the serve's doclen spine needs no dedup pass;
    - the one-row stats table is refreshed from the GROWN doclen table
      — a narrow (2 ints/doc) scan computing the exact expression the
      full build uses, so the served avgdl is bit-identical to a
      from-scratch build. Per-batch cost is O(|batch| tokens) + the
      narrow probe, df-merge and stats passes; the corpus text is
      never re-read. An all-duplicate redelivery skips the three
      appends entirely (r18 — the empty writes scheduled real jobs)
      and still re-runs the stats refresh, which heals a crash
      between a prior doclen commit and its refresh."""
    from dbt_on_snowflake_spark.engine.fs import fs_list_files
    from dbt_on_snowflake_spark.engine.index_maintenance import (
        table_location,
    )

    # the probe reads doclen through a FILE-LIST SNAPSHOT (driver-side
    # metadata listing): the doclen append below would otherwise be
    # writing a table its own plan reads, and the snapshot keeps every
    # re-evaluation of the filtered batch consistent
    snap = fs_list_files(spark, table_location(spark, doclen_table))
    if snap:
        dups = (
            spark.read.parquet(*snap)
            .select("doc_id")
            .join(F.broadcast(new_docs.select("doc_id")), "doc_id")
        )
        new_docs = new_docs.join(F.broadcast(dups), "doc_id", "left_anti")
    n_batch, bkey = _batch_fingerprint(new_docs)
    if n_batch > 0:
        toks = F.split("text", " ")
        (
            new_docs.select(
                "doc_id",
                F.size(toks).alias("dl"),
                F.explode(toks).alias("term"),
            )
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
            .withColumn("term_part", _term_part())
            .repartition("term_part")
            .write.mode("append")
            .partitionBy("term_part")
            .saveAsTable(postings_table)
        )
        # df merge (order: postings -> df -> doclen). gen = the stats
        # row's committed n_docs + batch size: <= the post-commit
        # n_docs (so the rows turn valid exactly at commit), > the
        # pre-commit n_docs (so they are invisible while pending).
        # Reading the 1-row stats table is O(1); a stale stats row (a
        # prior append crashed before its refresh) only LOWERS gen,
        # which stays correct on both sides of the inequality.
        df_table = _text_df_table(postings_table)
        spark.catalog.refreshTable(stats_table)  # micro-batch clones
        n_pre = spark.table(stats_table).first()["n_docs"]
        dfsnap = fs_list_files(spark, table_location(spark, df_table))
        landed = bool(dfsnap) and not (
            spark.read.parquet(*dfsnap)
            .filter(F.col("bkey") == bkey)
            .isEmpty()
        )
        if not landed:
            (
                new_docs.select(
                    "doc_id", F.explode(F.split("text", " ")).alias("term")
                )
                .groupBy("term", "doc_id")
                .count()
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
                .select(
                    "term",
                    "df",
                    F.lit(int(n_pre) + n_batch).cast("long").alias("gen"),
                    F.lit(bkey).alias("bkey"),
                    _term_part().alias("term_part"),
                )
                .repartition("term_part")
                .write.mode("append")
                .partitionBy("term_part")
                .saveAsTable(df_table)
            )
        lens = new_docs.select("doc_id", F.size(toks).alias("dl"))
        lens.write.mode("append").saveAsTable(doclen_table)
    # refresh + recompute through the fold's OWN stats helper — one
    # source of truth for the bit-identical avgdl expression and the
    # ownership re-mark (r13 review pass 8; it also handles the
    # Structured Streaming session-CLONE staleness: the appends above
    # ran in the micro-batch's clone, and without the refresh this
    # stats pass would read only the pre-append doclens)
    from dbt_on_snowflake_spark.engine.index_delete import (
        _refresh_bm25_stats,
    )

    _refresh_bm25_stats(
        spark,
        {"doclen_table": doclen_table, "stats_table": stats_table},
    )


@query(
    "text_bm25_topk_incremental",
    oracle=None,  # set below
)
def text_bm25_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_bm25_topk`` served from an index grown INCREMENTALLY:
    built from 90% of the corpus, then the held-out batch appended via
    ``text_index_append``. Growing the index must converge to exactly
    the from-scratch state — postings are per-doc facts and the stats
    refresh recomputes the build's expression over the grown doclens —
    so this shares the full-corpus recompute oracle verbatim: one
    query proves build + append + serve end-to-end."""
    import hashlib

    suffix = hashlib.md5(f"textinc:{sf_dir}".encode()).hexdigest()[:8]
    tables = (
        f"bm25_stats_{suffix}",
        f"bm25_postings_{suffix}",
        f"bm25_doclen_{suffix}",
    )
    stats_t, postings_t, doclen_t = tables
    d = table(spark, sf_dir, "documents")
    # rebuilt from scratch each call: append twice would double-count,
    # and this query IS the build+append verification surface
    build_text_index(
        spark,
        d.filter(F.expr(_BASE_DOCS_PRED)),
        stats_table=stats_t,
        postings_table=postings_t,
        doclen_table=doclen_t,
    )
    text_index_append(
        spark,
        d.filter(F.expr(_NEW_DOCS_PRED)),
        stats_table=stats_t,
        postings_table=postings_t,
        doclen_table=doclen_t,
    )
    return bm25_topn_indexed(spark, sf_dir, BM25_TOP_N, tables=tables)


def _set_bm25_incremental_oracle() -> None:
    from dbt_on_snowflake_spark.registry import QUERIES

    QUERIES["text_bm25_topk_incremental"].oracle = QUERIES[
        "text_bm25_topk"
    ].oracle


_set_bm25_incremental_oracle()


# --------------------------------------------- text-index DELETE propagation


def _text_tombstones(postings_table: str) -> str:
    """The family's tombstone-table name, derived from the postings
    table so the delete path and every serve resolve the SAME table
    for any suffix (fingerprinted, incremental, ad-hoc) — database
    qualifiers preserved (``derive_tombstones_name``)."""
    from dbt_on_snowflake_spark.engine.index_delete import (
        derive_tombstones_name,
    )

    return derive_tombstones_name(
        postings_table, strip="bm25_postings_", prefix="bm25_tombstones_"
    )


def text_index_delete(
    spark: SparkSession,
    ids: DataFrame,
    *,
    stats_table: str,
    postings_table: str,
    doclen_table: str,
) -> None:
    """Delete documents from a persisted text index built by
    ``build_text_index`` — the missing lifecycle verb next to
    ``text_index_append`` (r11 verdict, Next #2). O(|ids|): the doc_ids
    land in the family's tombstone table (engine/index_delete.py) and
    every serve gates through them immediately; the physical rewrite of
    postings/doclen (and the persisted-stats refresh) is deferred to
    ``compact --indexes``'s tombstone fold, which converges bit-exactly
    to a rebuild without those docs. Until the fold, serves compute
    n_docs/avgdl live over the gated doclen spine, so results are exact
    at every point (``bm25_topn_indexed`` docstring)."""
    from dbt_on_snowflake_spark.engine.index_delete import index_delete

    index_delete(
        spark,
        ids,
        tombstones_table=_text_tombstones(postings_table),
        id_col="doc_id",
        members=[
            {"table": postings_table, "id_cols": ["doc_id"]},
            {"table": doclen_table, "id_cols": ["doc_id"]},
        ],
        refresh={
            "kind": "bm25_stats",
            "stats_table": stats_table,
            "doclen_table": doclen_table,
            # the fold rebuilds the persisted per-term df from the
            # rewritten postings/doclen (r18, _text_df_table): df is a
            # per-TERM derived stat, so the per-id member anti-join
            # cannot rewrite it — declaring it here routes it through
            # the refresh step instead
            "df_table": _text_df_table(postings_table),
            "postings_table": postings_table,
        },
    )


@query(
    "text_bm25_topk_updated",
    oracle=f"""
    WITH {bm25_ranked_cte(
        BM25_TOP_N,
        docs_src=(
            "(SELECT doc_id, text FROM documents"
            f" WHERE {_BASE_DOCS_PRED}"
            " UNION ALL"
            " SELECT doc_id + 10000000 AS doc_id,"
            " text || ' updated' AS text"
            f" FROM documents WHERE {_NEW_DOCS_PRED})"
        ),
    )}
    SELECT doc_id, score, rank FROM b_ranked
    """,
)
def text_bm25_topk_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented UPDATE lifecycle, end to end
    (engine/index_delete.py semantics: ids are immutable identities, so
    an update = DELETE the old id + FOLD + APPEND the new content under
    a fresh id): the index is built from the full corpus, every 10th
    doc is deleted and physically folded out (tombstone table dropped —
    the serve below reads pristine, gate-free state), then the modified
    content re-ingests under fresh ids via ``text_index_append``. The
    oracle is the recompute over exactly that corpus: the survivors
    UNION the re-ingested rows — so one driver row proves
    delete + fold + re-append compose into a correct update, including
    the idf shifts from both halves."""
    import hashlib

    from dbt_on_snowflake_spark.engine.index_delete import (
        fold_tombstones,
    )

    suffix = hashlib.md5(f"textupd:{sf_dir}".encode()).hexdigest()[:8]
    stats_t = f"bm25_stats_{suffix}"
    postings_t = f"bm25_postings_{suffix}"
    doclen_t = f"bm25_doclen_{suffix}"
    kw = dict(
        stats_table=stats_t,
        postings_table=postings_t,
        doclen_table=doclen_t,
    )
    d = table(spark, sf_dir, "documents")
    # rebuilt from scratch each call (the lifecycle verification
    # surface); the build itself resets the tombstone slate
    build_text_index(spark, d, **kw)
    text_index_delete(
        spark, d.filter(F.expr(_NEW_DOCS_PRED)).select("doc_id"), **kw
    )
    fold_tombstones(spark, _text_tombstones(postings_t))
    updated = d.filter(F.expr(_NEW_DOCS_PRED)).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat("text", F.lit(" updated")).alias("text"),
    )
    text_index_append(spark, updated, **kw)
    return bm25_topn_indexed(
        spark, sf_dir, BM25_TOP_N, tables=(stats_t, postings_t, doclen_t)
    )


@query(
    "text_bm25_topk_deleted",
    oracle=f"""
    WITH {bm25_ranked_cte(
        BM25_TOP_N,
        docs_src=f"(SELECT * FROM documents WHERE {_BASE_DOCS_PRED})",
    )}
    SELECT doc_id, score, rank FROM b_ranked
    """,
)
def text_bm25_topk_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_bm25_topk`` served AFTER a delete: the index is built from
    the FULL corpus, every 10th doc is then deleted via
    ``text_index_delete`` (tombstones only — no rewrite), and the serve
    must match the recompute oracle over the corpus WITHOUT those docs —
    including the idf weights, which shift when n_docs/df shrink. One
    query proves delete propagation end-to-end at the serve layer; the
    fold's bit-exact convergence is pinned by
    ``tests/test_index_delete.py``."""
    import hashlib

    suffix = hashlib.md5(f"textdel:{sf_dir}".encode()).hexdigest()[:8]
    stats_t = f"bm25_stats_{suffix}"
    postings_t = f"bm25_postings_{suffix}"
    doclen_t = f"bm25_doclen_{suffix}"
    d = table(spark, sf_dir, "documents")
    # rebuilt from scratch each call: this query IS the build+delete
    # verification surface (text_bm25_topk_incremental's posture); the
    # build itself resets the tombstone slate
    build_text_index(
        spark,
        d,
        stats_table=stats_t,
        postings_table=postings_t,
        doclen_table=doclen_t,
    )
    text_index_delete(
        spark,
        d.filter(F.expr(_NEW_DOCS_PRED)).select("doc_id"),
        stats_table=stats_t,
        postings_table=postings_t,
        doclen_table=doclen_t,
    )
    return bm25_topn_indexed(
        spark, sf_dir, BM25_TOP_N, tables=(stats_t, postings_t, doclen_t)
    )


def ensure_deleted_text_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """Build-once the GATED text-index state — full-corpus build + one
    un-folded ``text_index_delete`` batch — behind the shared ensure
    scaffold (fingerprinted suffix, job-group isolated, superseded-
    suffix GC): the steady-state artifact ``text_bm25_topk_deleted_
    served`` benches. A commit MARKER table is created LAST and probed
    FIRST (the ``ensure_appended_pq_index`` convention): the delete
    step grows no probe-able table of its own (tombstones are a side
    table), so a crash between build and delete would otherwise leave
    a complete-looking family serving UNGATED — the marker makes that
    crash re-run the whole build."""
    from dbt_on_snowflake_spark.testdata import (
        ensure_index_tables,
        index_suffix,
    )

    suffix = index_suffix(spark, sf_dir, "textdls", "documents")
    stats_t = f"bm25_stats_dls_{suffix}"
    postings_t = f"bm25_postings_dls_{suffix}"
    doclen_t = f"bm25_doclen_dls_{suffix}"
    marker_t = f"bm25_delgate_dls_{suffix}"

    def build() -> None:
        from dbt_on_snowflake_spark.engine.index_delete import (
            mark_engine_dir,
        )
        from dbt_on_snowflake_spark.operators.dedup import (
            _drop_managed_table,
        )

        # invalidate the marker FIRST: a rebuild that crashes mid-way
        # must not leave a stale marker satisfying the probe over an
        # ungated family (the ensure_appended_pq_index crash model)
        _drop_managed_table(spark, marker_t)
        d = table(spark, sf_dir, "documents")
        build_text_index(
            spark,
            d,
            stats_table=stats_t,
            postings_table=postings_t,
            doclen_table=doclen_t,
        )
        text_index_delete(
            spark,
            d.filter(F.expr(_NEW_DOCS_PRED)).select("doc_id"),
            stats_table=stats_t,
            postings_table=postings_t,
            doclen_table=doclen_t,
        )
        local_df(spark, [(1,)], "gated int").write.mode(
            "overwrite"
        ).saveAsTable(marker_t)
        mark_engine_dir(spark, marker_t)

    ensure_index_tables(
        spark,
        # the TOMBSTONE table is probed too: the shipped nightly
        # maintenance (`compact --indexes`) folds every tombstone
        # family in the catalog, including this one — without the
        # probe, a persistent-warehouse deployment would serve the
        # pristine plan forever after the first nightly tick while the
        # bench silently recorded a zero gate delta (r14 review pass
        # 7, finding 4); with it, a folded family re-arms by re-running
        # the build+delete
        tables=(
            marker_t,
            _text_tombstones(postings_t),
            stats_t,
            postings_t,
            doclen_t,
            _text_df_table(postings_t),
        ),
        job_group="text_deleted_index",
        gc_prefixes=(
            "bm25_stats_dls_",
            "bm25_postings_dls_",
            "bm25_doclen_dls_",
            "bm25_df_dls_",
            "bm25_delgate_dls_",
            "bm25_tombstones_dls_",
        ),
        gc_suffix=suffix,
        build=build,
    )
    return stats_t, postings_t, doclen_t


@query(
    "text_bm25_topk_deleted_served",
    oracle=f"""
    WITH {bm25_ranked_cte(
        BM25_TOP_N,
        docs_src=f"(SELECT * FROM documents WHERE {_BASE_DOCS_PRED})",
    )}
    SELECT doc_id, score, rank FROM b_ranked
    """,
    headline=True,  # benched: what the delete gate COSTS a serve —
    # paired with the pristine twin text_bm25_topk_indexed, the delta
    # is the broadcast anti-join + the live n_docs/avgdl recompute the
    # nightly fold exists to remove (r13 verdict Next #3)
)
def text_bm25_topk_deleted_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``text_bm25_topk_deleted``'s STEADY-STATE twin: the gated index
    (full build + un-folded delete batch) is built once behind
    ``ensure_deleted_text_index``; every call after the first is a
    pure GATED serve — broadcast anti-join on the tombstones plus the
    live-stats recompute (the most expensive gate variant: BM25 idf
    shifts when n_docs/df shrink). Same oracle as the per-call-rebuild
    verification row: serving the gate many times must not change a
    row. The bench pairs this with ``text_bm25_topk_indexed`` (the
    pristine serve) so BENCH_r14+ records the gate's cost — the
    quantity the shipped nightly fold (examples/curation/tasks.yml)
    exists to reclaim."""
    tables = ensure_deleted_text_index(spark, sf_dir)
    return bm25_topn_indexed(spark, sf_dir, BM25_TOP_N, tables=tables)
