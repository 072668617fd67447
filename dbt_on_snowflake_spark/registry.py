"""Query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 (plus the §7.5 extensions)
registers here as a named query: a PySpark callable ``(spark, sf_dir) ->
DataFrame`` and, where SQL-expressible, an equivalent ANSI-SQL oracle string
DuckDB runs on the same parquet tables. The driver hash-compares the two
(order-insensitively, columns sorted by name) — so both sides alias every
computed column identically, and float aggregates go through decimal-exact
paths (see ``functions``) to make the values bit-identical.

The driver checks at most ``DRIVER_BUDGET`` exported queries per round and
records each one in ``CORRECTNESS_r{N}.json``. Which queries export is not
kept by hand: ``driver_export`` derives them from the committed
CORRECTNESS history, so every query in the rotation pool gets a fresh
driver row at least once every three rounds while the pool fits
``3 * DRIVER_BUDGET``. Every registered query, exported or not, is
hash-compared against DuckDB by ``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    headline: bool = False  # include in bench.py


QUERIES: dict[str, RegisteredQuery] = {}

DRIVER_BUDGET = 50

# A query last driver-green this many rounds ago must export this round.
STALENESS_WINDOW = 3

# Serve through a bm25 read path changed since their last driver row.
PRIORITY = {
    "retrieval_hybrid_rrf_indexed",
    "retrieval_hybrid_rrf_perquery_indexed",
}

# Retired from the rotation pool: strict-subset or variant twins whose
# named guard row (same module) carries the operator family to the
# driver. Retired rows stay registered and are hash-compared against
# DuckDB on every run of tests/test_oracle_parity.py; they only stop
# taking driver slots. Map: retired row -> its guard.
RETIRED_FROM_ROTATION: dict[str, str] = {
    # strict substep of the ADC top-k (codes are computed en route)
    "ann_pq_codes": "ann_pq_adc_topk",
    # shares its oracle verbatim with the kept row
    "ann_pq_rerank_indexed": "ann_pq_rerank_topk",
    # unindexed twin of the kept indexed per-query RRF
    "retrieval_hybrid_rrf_perquery": "retrieval_hybrid_rrf_perquery_indexed",
    # broadcast-strategy twin
    "text_unigram_rarity_bcast": "text_unigram_rarity",
    # superseded by the trained-merges variant
    "text_token_count_bpe": "text_token_count_bpe_trained",
    "text_token_count": "text_token_count_bpe_trained",
    # n-gram aggregation family kept via bigram coverage
    "text_top_ngrams": "text_bigram_coverage",
    # parameterized sampling variants; parents stay in the pool
    "corpus_mixture_sample": "corpus_temperature_sample",
    "corpus_mixture_sample_bpe": "corpus_temperature_sample",
    "corpus_mixture_epochs": "corpus_sample_stratified",
    "corpus_token_budget_hist": "corpus_token_budget",
    "corpus_token_budget_hist_bpe": "corpus_token_budget",
    "corpus_pack_sequences_bpe": "corpus_pack_sequences",
    # verify/variant stages of kept dedup representatives
    "dedup_minhash_verified": "dedup_minhash_lsh",
    "dedup_containment": "dedup_ngram_jaccard",
    "dedup_semantic_greedy": "dedup_semantic",
    "dedup_simhash_pairs": "dedup_simhash",
    "dedup_passages": "dedup_minhash_lsh",
    # grouping family: the general form + the inverse stay
    "a_pivot_status_revenue": "a_unpivot_status_revenue",
    "a_cube_status_priority": "a_grouping_sets_status_priority",
    "a_rollup_revenue": "a_grouping_sets_status_priority",
    # time-rollup twin of the kept hourly rollup
    "t_monthly_revenue": "t_events_hourly",
    # foreachBatch-append twin of the kept streaming hourly rollup
    "t_events_hourly_append": "t_events_hourly_streaming",
    # semi/anti mirrors
    "j_semi_active_customers": "j7_anti_orphans",
    # asof inverse/variant pair: the kept "last within 30d" row is the
    # same merge-sorted asof kernel with the tightest semantics
    "asof_next_order_after_event": "asof_last_order_within_30d",
    "asof_last_order_before_event": "asof_last_order_within_30d",
    # unindexed twins of kept indexed serves
    "retrieval_hybrid_rrf": "retrieval_hybrid_rrf_indexed",
    "ann_filtered_topk": "ann_filtered_indexed",
    # indexed twin of the kept inline multiprobe (same oracle shape)
    "ann_ivf_multiprobe_indexed": "ann_ivf_multiprobe",
    # sliding-window twin of the kept session-window streaming rollup
    "t_events_sliding_streaming": "t_events_sessions_streaming",
    # nprobe=1 strict special case of the kept nprobe=2 multiprobe
    # (same probe ranking, same cell scan, block = own label only)
    "ann_ivf_topk": "ann_ivf_multiprobe",
    # unindexed recompute twins of kept indexed/gated serves
    "text_bm25_topk": "text_bm25_topk_indexed",
    "text_bm25_topk_deleted": "text_bm25_topk_deleted_served",
}


def query(name: str, oracle: str | None = None, headline: bool = False):
    """Decorator registering a query (and optional DuckDB oracle)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = RegisteredQuery(name, fn, oracle, headline)
        return fn

    return deco


def all_queries() -> dict[str, RegisteredQuery]:
    # Import operator modules for their registration side effects.
    from dbt_on_snowflake_spark import operators  # noqa: F401

    return QUERIES


def last_green(history: Mapping[int, Mapping[str, Mapping]]) -> dict[str, int]:
    """Query -> the last round whose driver row for it was green: the
    rows matched, and the hash and the schema did not mismatch (a
    rows-only check leaves ``hash_match`` unset)."""
    last: dict[str, int] = {}
    for n, rows in history.items():
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("hash_match") is not False
                and row.get("schema_match") is not False
            ):
                last[name] = max(last.get(name, 0), n)
    return last


def driver_export(
    history: Mapping[int, Mapping[str, Mapping]],
    pool: Iterable[str],
    budget: int = DRIVER_BUDGET,
) -> set[str]:
    """The queries to export for round ``N = max(history) + 1``.

    ``history`` maps a round to its CORRECTNESS rows. The pool minus
    ``RETIRED_FROM_ROTATION`` is ranked: first the window-hard rows
    (never green, or last green ``STALENESS_WINDOW`` or more rounds
    ago), then the rest; within each, ``PRIORITY`` rows first, then
    the oldest green round, then the name. The first ``budget`` of them
    export."""
    n = max(history, default=0) + 1
    last = last_green(history)
    candidates = set(pool) - set(RETIRED_FROM_ROTATION)
    ranked = sorted(
        candidates,
        key=lambda q: (
            last.get(q, 0) > n - STALENESS_WINDOW,
            q not in PRIORITY,
            last.get(q, 0),
            q,
        ),
    )
    return set(ranked[:budget])


def correctness_history() -> dict[int, dict[str, dict]]:
    """Round -> rows of every ``CORRECTNESS_r{N}.json`` beside the package."""
    root = Path(__file__).resolve().parent.parent
    return {
        int(p.stem.removeprefix("CORRECTNESS_r")): json.loads(p.read_text())
        for p in root.glob("CORRECTNESS_r*.json")
    }


def driver_queries() -> dict[str, RegisteredQuery]:
    """The <= DRIVER_BUDGET queries exported to the driver gate."""
    qs = all_queries()
    export = driver_export(correctness_history(), qs)
    return {n: q for n, q in qs.items() if n in export}
