"""The driver-export rule: ``registry.driver_export`` over the
CORRECTNESS history.

Each round the driver checks the exported queries against DuckDB and
writes ``CORRECTNESS_r{N}.json``. The export is derived from those
files, the registry and ``RETIRED_FROM_ROTATION``; nothing is kept by
hand. The properties below run the rule over synthetic histories; the
pinned and steady-state cases run it over the committed files.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dbt_on_snowflake_spark.registry import (
    DRIVER_BUDGET,
    PRIORITY,
    RETIRED_FROM_ROTATION,
    STALENESS_WINDOW,
    all_queries,
    correctness_history,
    driver_export,
    driver_queries,
    last_green,
)

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
ROWS_ONLY = {"rows_match": True, "schema_match": True, "hash_match": None}
RED = [
    {"rows_match": False, "schema_match": True, "hash_match": True},
    {"rows_match": True, "schema_match": True, "hash_match": False},
    {"rows_match": True, "schema_match": False, "hash_match": True},
    {"rows_match": False, "schema_match": None, "hash_match": None,
     "err": "AnalysisException"},
]

NAMES = (
    [f"q{i:02d}" for i in range(24)]
    + sorted(PRIORITY)
    + sorted(RETIRED_FROM_ROTATION)[:4]
)
histories = st.dictionaries(
    st.integers(1, 12),
    st.dictionaries(
        st.sampled_from(NAMES),
        st.sampled_from([GREEN, ROWS_ONLY, *RED]),
        max_size=20,
    ),
    max_size=8,
)
pools = st.lists(
    st.sampled_from(NAMES + ["never_a", "never_b", "never_c"]), unique=True
)
budgets = st.integers(0, 30)


def reference_last_green(history) -> dict[str, int]:
    """Query -> last round whose row passed: rows matched, and the hash
    and the schema did not mismatch (None = not checked)."""
    last: dict[str, int] = {}
    for n, rows in history.items():
        for name, row in rows.items():
            ok = (
                row.get("rows_match")
                and row.get("hash_match") is not False
                and row.get("schema_match") is not False
            )
            if ok:
                last[name] = max(last.get(name, 0), n)
    return last


def window_hard(history, candidates) -> set[str]:
    """Candidates never green, or last green STALENESS_WINDOW or more
    rounds before the export round."""
    n = max(history, default=0) + 1
    last = reference_last_green(history)
    return {q for q in candidates if last.get(q, 0) <= n - STALENESS_WINDOW}


@settings(max_examples=200, deadline=None)
@given(histories, pools, budgets)
def test_export_fills_budget_from_the_pool(history, pool, budget):
    export = driver_export(history, pool, budget)
    candidates = set(pool) - set(RETIRED_FROM_ROTATION)
    assert len(export) <= budget
    assert export <= candidates
    assert len(export) == min(budget, len(candidates))


@settings(max_examples=200, deadline=None)
@given(histories, pools, budgets)
def test_no_retired_row_is_exported(history, pool, budget):
    pool = pool + sorted(set(RETIRED_FROM_ROTATION) - set(pool))
    export = driver_export(history, pool, budget)
    assert not export & set(RETIRED_FROM_ROTATION)


@settings(max_examples=200, deadline=None)
@given(histories, pools, budgets)
def test_older_rows_export_first(history, pool, budget):
    """A never-checked or red row (last green 0 or older) is exported
    before any row green in a later round. PRIORITY rows are the one
    exception, checked below."""
    export = driver_export(history, pool, budget)
    last = reference_last_green(history)
    ranked = [
        q for q in pool
        if q not in RETIRED_FROM_ROTATION and q not in PRIORITY
    ]
    for a in ranked:
        for b in ranked:
            if last.get(a, 0) < last.get(b, 0) and b in export:
                assert a in export, (a, last.get(a, 0), b, last.get(b, 0))


@settings(max_examples=200, deadline=None)
@given(histories, pools, budgets)
def test_priority_rows_lead_their_window_class(history, pool, budget):
    """A PRIORITY row that misses the export means no other row of its
    window class, and no row of a later class, took a slot."""
    export = driver_export(history, pool, budget)
    candidates = set(pool) - set(RETIRED_FROM_ROTATION)
    hard = window_hard(history, candidates)
    late = candidates - hard
    for p in candidates & PRIORITY:
        if p in export:
            continue
        rivals = {
            q for q in candidates
            if (q in late, q not in PRIORITY) > (p in late, False)
        }
        assert not export & rivals, (p, sorted(export & rivals))


@settings(max_examples=200, deadline=None)
@given(histories, pools, st.integers(-3, 3))
def test_window_hard_rows_export_when_they_fit(history, pool, slack):
    """Every window-hard row exports when they all fit; when they do
    not, they take every slot."""
    hard = window_hard(history, set(pool) - set(RETIRED_FROM_ROTATION))
    budget = max(0, len(hard) + slack)
    export = driver_export(history, pool, budget)
    if len(hard) <= budget:
        assert hard <= export, sorted(hard - export)
    else:
        assert export <= hard, sorted(export - hard)


@settings(max_examples=200, deadline=None)
@given(histories, pools, budgets, st.randoms(use_true_random=False))
def test_export_ignores_dict_and_set_order(history, pool, budget, rnd):
    rounds = list(history)
    rnd.shuffle(rounds)
    shuffled = {}
    for n in rounds:
        rows = list(history[n].items())
        rnd.shuffle(rows)
        shuffled[n] = dict(rows)
    order = list(pool)
    rnd.shuffle(order)
    assert driver_export(shuffled, order, budget) == driver_export(
        history, pool, budget
    )
    assert driver_export(history, set(pool), budget) == driver_export(
        history, tuple(pool), budget
    )


def test_last_green_matches_reference():
    history = correctness_history()
    assert last_green(history) == reference_last_green(history)


# The r19 export the committed r01-r18 files give: the 45 rows last
# green in r16, the two PRIORITY rows, then the three oldest-green r17
# rows by name.
PINNED_EXPORT = {
    "a1_loyalty_metrics", "a4_sales_by_nation", "a6_unique_violations",
    "a_grouping_sets_status_priority", "ann_ivfpq_indexed",
    "ann_ivfpq_topk", "ann_mmr_topk", "ann_pq_adc_appended_served",
    "ann_pq_adc_deleted", "ann_pq_rerank_topk", "ann_quantize_int8",
    "ann_topk_bruteforce", "asof_last_order_within_30d",
    "corpus_chunk_documents", "corpus_pack_sequences",
    "corpus_pack_shards", "corpus_sample_stratified",
    "corpus_train_val_split", "dedup_embedding_cosine",
    "dedup_incremental_pruned", "dedup_minhash_deleted",
    "dedup_source_overlap", "j1_orders_denorm", "j7_anti_orphans",
    "j_salted_events_enrich", "multimodal_decode",
    "multimodal_frame_sample", "multimodal_meta",
    "q10_returned_item_losers", "q14_promo_revenue_share",
    "q15_top_supplier", "q16_supplier_breadth",
    "q19_branded_quantity_revenue", "q6_forecast_revenue_delta",
    "t_event_funnel_streaming", "t_event_transitions",
    "t_events_dedup_streaming", "t_events_hourly_streaming",
    "t_events_rate_anomalies", "t_events_sessions_streaming",
    "t_events_topn_types_streaming", "t_user_retention",
    "text_contamination", "text_quality", "w_running_total_events",
    # PRIORITY
    "retrieval_hybrid_rrf_indexed", "retrieval_hybrid_rrf_perquery_indexed",
    # oldest-green r17 rows, by name
    "a_unpivot_status_revenue", "ann_centroids", "ann_filtered_indexed",
}


def test_r19_export_pinned():
    history = {n: r for n, r in correctness_history().items() if n <= 18}
    assert max(history) == 18
    export = driver_export(history, all_queries())
    assert len(PINNED_EXPORT) == DRIVER_BUDGET
    assert export == PINNED_EXPORT, sorted(export ^ PINNED_EXPORT)
    last = last_green(history)
    assert sum(last.get(q) == 16 for q in export) == 45


def test_driver_queries_apply_the_rule():
    qs = all_queries()
    assert set(driver_queries()) == driver_export(correctness_history(), qs)


def test_steady_state_window_fits_budget():
    """Three more rounds, each green on its own export: every round's
    window-hard set fits the budget and is exported whole."""
    history = dict(correctness_history())
    pool = set(all_queries())
    candidates = pool - set(RETIRED_FROM_ROTATION)
    for _ in range(3):
        n = max(history) + 1
        export = driver_export(history, pool)
        hard = window_hard(history, candidates)
        assert len(hard) <= DRIVER_BUDGET, (n, len(hard))
        assert hard <= export, (n, sorted(hard - export))
        history[n] = {q: GREEN for q in export}


def test_retirement_invariants():
    """Every retired row stays registered and oracle-backed (the parity
    replica's hash compare replaces its driver slot), has driver-green
    history (a never-checked row cannot retire), and is never exported;
    the pool left after retirement fits a 3-round cycle."""
    qs = all_queries()
    registered = set(qs)
    retired = set(RETIRED_FROM_ROTATION)
    history = correctness_history()
    assert retired <= registered, sorted(retired - registered)
    assert retired <= set(last_green(history)), sorted(
        retired - set(last_green(history))
    )
    assert not retired & driver_export(history, registered)
    assert not retired & PRIORITY
    assert PRIORITY <= registered
    for row in retired:
        assert qs[row].oracle is not None, row
    pool = registered - retired
    assert len(pool) <= STALENESS_WINDOW * DRIVER_BUDGET, len(pool)
    assert len(pool) <= 145, len(pool)


@pytest.mark.parametrize("row", sorted(RETIRED_FROM_ROTATION))
def test_guard_rows_share_operator_family(row):
    """Each retired row's guard is a live pool row of the same module,
    so the family it belongs to still reaches the driver."""
    qs = all_queries()
    guard = RETIRED_FROM_ROTATION[row]
    assert guard in qs and guard not in RETIRED_FROM_ROTATION, (row, guard)
    assert qs[guard].fn.__module__ == qs[row].fn.__module__, (
        row, qs[row].fn.__module__, guard, qs[guard].fn.__module__,
    )
