"""Query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 (plus the §7.5 extensions)
registers here as a named query: a PySpark callable ``(spark, sf_dir) ->
DataFrame`` and, where SQL-expressible, an equivalent ANSI-SQL oracle string
DuckDB runs on the same parquet tables. The driver hash-compares the two
(order-insensitively, columns sorted by name) — so both sides alias every
computed column identically, and float aggregates go through decimal-exact
paths (see ``functions``) to make the values bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    headline: bool = False  # include in bench.py
    driver: bool = True  # export through __spark_entry__ (driver budget: 50)


QUERIES: dict[str, RegisteredQuery] = {}

# The per-round driver gate checks the first 50 exported queries; the
# registry therefore exports a curated set of <= 50 (driver=True) so every
# exported query gets a CORRECTNESS row every round. Near-duplicate shapes
# (a mirrored semi/anti join, the unpivot inverse of a checked pivot, ...)
# register with driver=False: they stay in all_queries() and are verified
# by the local DuckDB parity replica (tests/test_oracle_parity.py runs the
# SAME compare over every registered query, demoted ones included).
#
# ROTATION LEDGER (keep every query driver-green within a 3-round window):
# - r6 export: the 8 operators born in r5 plus the r6-born BPE trio and
#   dedup_semantic; 13 r5-green veterans demoted.
# - r7 export: all 17 never-driver-checked rows, all 22 r4-stale rows,
#   corpus_pack_sequences (oracle BIGINT fix proof), w_running_total_events
#   (family guard), 6 of the 12 r5-checked rows, 3 r7-born queries.
#   Result: CORRECTNESS_r07 50/50 green.
# - r8 export (retired; exact set = CORRECTNESS_r08's keys): the 6
#   remaining r5-stale
#   rows (they hit the 3-round window) + all 37 r7-born parity-only rows
#   (never driver-checked: the PQ family, BPE training, TPC-H
#   q7-q13/q21/q22, stream-stream join, watermarked dedup, temperature
#   sampling, patch grid, quality classifier/report, percentile standing,
#   grouping sets, datetime suite, full outer, pack efficiency, ingest
#   streaming, ...) = 43 mandatory, + 7 r6/r7-green family guards
#   (q1_pricing_summary, a1_loyalty_metrics, dedup_exact,
#   ann_topk_bruteforce, t_events_hourly, text_stats, j1_orders_denorm).
# - r9 export (retired; exact set = CORRECTNESS_r09's keys): the 41
#   rows last driver-checked in r6 (they hit the 3-round window at r9)
#   + the 6 r8-born never-driver-checked rows = 47 mandatory;
#   the remaining 3 slots are r8-green family guards
#   (q1_pricing_summary, dedup_exact, t_events_hourly).
# - R10_EXPORT DRAFT (apply at round-10 start; exact arithmetic
#   computed at r9 session end: CORRECTNESS_r07 minus CORRECTNESS_r08
#   minus R9_EXPORT = 50 r7-stale rows, + the 7 r9-born rows in
#   R10_ROTATE_IN = 57 mandatory > 50 budget, so 7 r7-stale rows slip
#   to r11). Slip the lowest-risk trivial rows —
#   s4_source_passthrough, p2_projection_rename, p6_range_filter,
#   p7_ts_filter, dq_failing_rows, f_scalar_suite, f_json_extract —
#   they are single-operator shapes the local parity replica exercises
#   on every pytest run and their operator families stay guarded by
#   exported rows. R10_EXPORT =
#   (a4_sales_by_nation, a6_unique_violations, a_rollup_revenue,
#   ann_incremental_assign, ann_ivf_multiprobe, ann_ivf_topk,
#   ann_quantize_int8, corpus_chunk_documents, corpus_mixture_epochs,
#   corpus_pack_sequences, corpus_pack_sequences_bpe,
#   corpus_pack_shards, corpus_sample_stratified,
#   corpus_train_val_split, dedup_embedding_cosine,
#   dedup_incremental_pruned, dedup_passages, dedup_simhash_pairs,
#   dedup_source_overlap,
#   j7_anti_orphans, j_salted_events_enrich, j_semi_active_customers,
#   multimodal_meta, q10_returned_item_losers, q14_promo_revenue_share,
#   q15_top_supplier, q16_supplier_breadth,
#   q19_branded_quantity_revenue, q6_forecast_revenue_delta,
#   t_event_funnel_streaming, t_event_transitions,
#   t_events_dedup_streaming, t_events_hourly_append,
#   t_events_hourly_streaming, t_events_rate_anomalies,
#   t_events_sessions_streaming, t_events_sliding_streaming,
#   t_user_retention, text_contamination, text_quality,
#   text_token_count, text_top_ngrams, w_running_total_events)
#   = 43 r7-stale + the 7 R10_ROTATE_IN rows = 50 exactly; no guard
#   slots this round. r11 then owes the 7 slipped rows + the
#   r8/r9-checked rows as they age.
# - r10 export (R10_EXPORT below, retired; exact set =
#   CORRECTNESS_r10's keys): the draft above, executed verbatim —
#   arithmetic re-verified at r10 start against the actual CORRECTNESS
#   files (r7-green minus r8-green minus r9-green = exactly the 43
#   draft rows + the 7 slipped trivials).
# - r11 export (R11_EXPORT below, the active set): the r10 draft,
#   executed verbatim. Arithmetic re-verified at r11 start against the
#   actual CORRECTNESS files: rows last driver-checked in r8
#   (CORRECTNESS_r08 minus r09 minus R10_EXPORT) = 47 r8-stale rows,
#   + 7 r10-slipped trivials + 9 R11_ROTATE_IN rows = 63 mandatory >
#   50 budget, so 13 slip to r12: the 7 trivials again
#   (s4_source_passthrough, p2_projection_rename, p6_range_filter,
#   p7_ts_filter, dq_failing_rows, f_scalar_suite, f_json_extract —
#   single-operator shapes the per-pytest parity replica re-verifies
#   on every run; they hit the 4-round hard window at r12) + the 6
#   lowest-risk r8-stale rows whose operator families keep exported
#   guards this round:
#     a_unpivot_status_revenue   (guard: a_grouping_sets_status_priority)
#     asof_next_order_after_event (guard: asof_last_order_within_30d)
#     ann_pq_adc_indexed          (guards: ann_pq_adc_topk, ann_ivfpq_topk)
#     corpus_pack_shards_bpe      (guards: corpus_pack_efficiency,
#                                  text_bpe_train_merges)
#     dedup_cluster_sizes         (guards: dedup_ngram_jaccard,
#                                  corpus_dedup_cascade)
#     w_percentile_standing_orders (guard: w_ntile_customer_value_quartiles)
#   R11_EXPORT = 41 r8-stale + 9 R11_ROTATE_IN = 50 exactly.
#   The policy itself is now machine-enforced: tests/test_rotation_ledger.py
#   recomputes staleness from the CORRECTNESS_r*.json files and fails if
#   the active export violates it (rotate-ins mandatory, slips only from
#   the documented trivial/family-guarded classes).
# - R12 DRAFT (exact arithmetic computed at r11 session end): rows
#   last driver-checked in r9 (CORRECTNESS_r09 minus r10 minus
#   R11_EXPORT) = 50 r9-stale rows, + the 7 twice-slipped trivials
#   (4-round window HARD at r12 — mandatory, no further slip:
#   tests/test_rotation_ledger.py::test_trivial_slips_become_hard_at_r12
#   enforces it) + the 6 r8-stale rows slipped at r11 (also
#   window-hard) + the 3 R12_ROTATE_IN rows = 66 mandatory > 50, so
#   16 r9-stale rows slip to r13. The computed lowest-risk slip list
#   (A/B twins, inverse/variant shapes of exported rows, each with a
#   same-module r12-exported guard):
#     the two PQ kernel A/B twins             (since deleted)
#     text_unigram_rarity_bcast               (broadcast twin)
#     text_token_count_bpe                    (superseded by _trained)
#     corpus_mixture_sample, corpus_mixture_sample_bpe,
#     corpus_token_budget_hist, corpus_token_budget_hist_bpe
#                                  (variants; corpus_token_budget kept)
#     a_cube_status_priority                  (rollup twin kept family)
#     a_pivot_status_revenue     (unpivot twin is window-hard exported)
#     dedup_semantic_greedy, dedup_minhash_verified, dedup_containment
#                          (dedup_semantic / dedup_minhash_lsh kept)
#     multimodal_decode, multimodal_frame_sample
#                          (multimodal_embed_topk kept + indexed twin)
#     t_monthly_revenue                       (t_events_hourly kept)
#   R12_EXPORT = (50 r9-stale - 16 slips) + 7 trivials + 6 r8-slipped
#   + 3 R12_ROTATE_IN = 50 exactly. When applying: extend
#   FAMILY_GUARD_SLIPS in tests/test_rotation_ledger.py with the 16
#   new (slip -> guard) pairs, and rename the promises-kept test.
# - r12 export (R12_EXPORT below, the active set): the draft above,
#   executed verbatim. Arithmetic re-verified at r12 start against the
#   actual CORRECTNESS files (CORRECTNESS_r09 minus r10 minus
#   R11_EXPORT = exactly the 50 draft rows; all 16 slips present in
#   that set; 34 kept + 7 trivials + 6 r8-slips + 3 rotate-ins = 50).
#   FAMILY_GUARD_SLIPS extended with the 16 (slip -> guard) pairs.
# - R13 DRAFT (exact arithmetic computed at r12 session end,
#   module-validated against the live registry): rows last
#   driver-checked in r10 (CORRECTNESS_r10 minus r11 minus R12_EXPORT)
#   = 50 r10-stale rows hit the 3-round window at r13, + the 16
#   r12-slipped rows (window-hard at r13 — guarded slips get exactly
#   one extra round, no further slip) + the 6 R13_ROTATE_IN rows = 72
#   mandatory > 50 budget, so 22 r10-stale rows slip to r14 with
#   family guards (the steady-state slip pool: 172 registered / 50
#   budget ≈ a 3.4-round full cycle against the 3-round window). The
#   computed lowest-risk slip list, each with a same-module
#   r13-exported guard (variant/indexed/streaming twins of kept or
#   window-hard rows; extend FAMILY_GUARD_SLIPS with these pairs and
#   retarget the policy + promises tests when applying):
#     ann_ivf_multiprobe -> ann_ivf_topk
#     ann_incremental_assign -> ann_ivf_topk
#     ann_pq_rerank_indexed -> ann_pq_rerank_topk (shares its oracle)
#     ann_quantize_int8 -> ann_pq_rerank_topk
#     ann_filtered_topk -> ann_mmr_topk
#     corpus_pack_sequences_bpe -> corpus_pack_sequences
#     corpus_mixture_epochs -> corpus_sample_stratified
#     corpus_train_val_split -> corpus_sample_stratified
#     t_events_hourly_append -> t_events_hourly_streaming
#     t_events_sliding_streaming -> t_events_sessions_streaming
#     t_event_funnel_streaming -> t_events_sessions_streaming
#     t_events_dedup_streaming -> t_events_topn_types_streaming
#     t_events_rate_anomalies -> t_monthly_revenue
#     t_user_retention -> t_event_transitions
#     dedup_simhash_pairs -> dedup_source_overlap
#     dedup_embedding_cosine -> dedup_source_overlap
#     dedup_passages -> dedup_source_overlap
#     dedup_incremental_pruned -> dedup_minhash_deleted
#     text_token_count -> text_quality
#     text_top_ngrams -> text_quality
#     a_rollup_revenue -> a_cube_status_priority
#     j_semi_active_customers -> j7_anti_orphans (semi/anti mirrors)
#   R13_EXPORT = 28 kept r10-stale (a4_sales_by_nation,
#   a6_unique_violations, ann_ivf_topk, ann_mmr_topk,
#   ann_pq_rerank_topk, corpus_chunk_documents, corpus_pack_sequences,
#   corpus_pack_shards, corpus_sample_stratified, dedup_source_overlap,
#   j7_anti_orphans, j_salted_events_enrich,
#   multimodal_meta, q10_returned_item_losers, q14_promo_revenue_share,
#   q15_top_supplier, q16_supplier_breadth, q19_branded_quantity_revenue,
#   q6_forecast_revenue_delta, retrieval_hybrid_rrf, t_event_transitions,
#   t_events_hourly_streaming, t_events_sessions_streaming,
#   t_events_topn_types_streaming, text_bm25_topk, text_contamination,
#   text_quality, w_running_total_events) + the 16 window-hard r12
#   slips + the 6 R13_ROTATE_IN rows = 50 exactly. Re-verify against
#   the actual CORRECTNESS_r12 file at r13 start before applying.
# - r13 export (R13_EXPORT below, the active set): the draft above was
#   re-verified at r13 start against CORRECTNESS_r12 (arithmetic exact:
#   28 kept + 22 slip-list = precisely the 50 r10-stale rows; the 16
#   r12 slips all last-green r9) and then REVISED, because VERDICT r12
#   Next #2 (retire superseded rows so the cycle fits the window)
#   interacts with Next #1: executing the draft verbatim would spend 16
#   driver slots re-checking A/B twins and parameterized variants that
#   Next #2 retires anyway, and r14 would still owe 22 guard-slips
#   (the compounding the retirement exists to stop). Retirement applied
#   FIRST (RETIRED_FROM_ROTATION below: 26 strict-subset/variant twins,
#   each with a named kept guard; they stay registered and the per-pytest
#   parity replica + empty-input sweep still verify them every run),
#   then the export recomputed over the post-retirement pool:
#   mandatory = 28 kept r10-stale + 12 non-retired rows of the old
#   22-slip list (window-hard) + 2 non-retired r12 slips
#   (multimodal_decode, multimodal_frame_sample — guarded slips get
#   exactly one extra round) + 6 R13_ROTATE_IN = 48; the 2 spare slots
#   pull two r11-green rows forward to lighten r14: j1_orders_denorm
#   (the 6-way-join bench headliner) and a_grouping_sets_status_
#   priority (the general form guarding the retired cube/rollup
#   twins; it also restores the a_* family's exported representative).
#   ZERO slips at r13.
# - R14 DRAFT (exact list computed at r13 session end; re-verify
#   against the actual CORRECTNESS_r13 file at r14 start): post-r13
#   last-green histogram over the 148-row pool = r11 x46 / r12 x50 /
#   r13 x50 + 2 never-checked (R14_ROTATE_IN). r14 mandatory = the 46
#   r11-green rows (window-hard at r14) + the 2 R14_ROTATE_IN rows
#   = 48 <= 50: ZERO slips (machine-checked by tests/
#   test_rotation_ledger.py::test_r14_rotation_fits_budget_with_zero_
#   slips). R14_EXPORT = the 46 r11-green rows (a1_loyalty_metrics,
#   ann_filtered_indexed, ann_filtered_rerank_indexed,
#   ann_hard_negatives, ann_ivfpq_topk, ann_pq_adc_topk,
#   ann_pq_recall_eval, ann_recall_eval, ann_topk_bruteforce,
#   asof_last_order_within_30d, corpus_dedup_cascade,
#   corpus_ingest_streaming, corpus_pack_efficiency,
#   corpus_quality_report, corpus_shuffle_order,
#   corpus_temperature_sample, dedup_ngram_jaccard, f_datetime_suite,
#   j_full_outer_daily_reconciliation, multimodal_patch_grid,
#   q11_important_suppliers, q12_priority_by_shipmode,
#   q13_order_count_distribution, q21_waiting_suppliers,
#   q22_dormant_customers, q7_volume_shipping, q8_market_share,
#   q9_product_profit, retrieval_hybrid_rrf_indexed,
#   retrieval_hybrid_rrf_perquery_indexed, t_events_dedup_wm_streaming,
#   t_events_stream_stream_join, t_events_topn_types_update_streaming,
#   text_bigram_coverage, text_bm25_topk_incremental,
#   text_bm25_topk_indexed, text_bpe_train_merges, text_fingerprint,
#   text_index_ingest_streaming, text_lang_id, text_levenshtein_pairs,
#   text_quality_classifier, text_repetition, text_stats,
#   text_token_count_bpe_trained, w_ntile_customer_value_quartiles)
#   + dedup_semantic_deleted + multimodal_embed_topk_deleted
#   (R14_ROTATE_IN) + 2 fills from the r12-greens — the draft picks
#   the twice-window-pressured trivials s4_source_passthrough and
#   p2_projection_rename to lighten the r15 trivial block = 50
#   exactly. Keep R15_ROTATE_IN current as r14 queries are born; r15
#   then owes the remaining 48 r12-greens + births (2 spare slots at
#   this draft's arithmetic). Steady state: 148 registered-in-pool /
#   50 budget = a 2.96-round cycle, back inside the 3-round window.
# - r14 export (R14_EXPORT below, the active set): the draft above was
#   re-verified at r14 start against the actual CORRECTNESS_r13 file
#   (50/50 green, key set == R13_EXPORT exactly; post-r13 last-green
#   histogram over the 148-row pool recomputed as r11 x46 / r12 x50 /
#   r13 x50 + the 2 never-checked R14_ROTATE_IN rows) and executed
#   with ONE documented fill swap: the 46 window-hard r11-green rows +
#   the 2 R14_ROTATE_IN rows (first-ever driver checks for the
#   r13-born delete-serve twins) + 2 fills = 50 exactly, ZERO slips.
#   Fill deviation: the draft's p2_projection_rename is replaced by
#   a_unpivot_status_revenue — the drafted fill pair left the export
#   with no a_* family representative (the family-coverage invariant
#   test_driver_export_within_budget enforces; the draft was computed
#   before r13's fills moved a_grouping_sets_status_priority out of
#   the r14 pool), and a_unpivot is r12-green + r15-mandatory, so
#   pulling it forward lightens r15 exactly like the trivial it
#   replaces (p2 slides back into the r15 mandatory block — same 48
#   count, and p2 is a TRIVIAL_SLIPS member with window room to r16).
# - R15 DRAFT (computed at r14 start; re-verify against the actual
#   CORRECTNESS_r14 file at r15 start): assuming r14 goes green on
#   R14_EXPORT, the post-r14 histogram is r12 x48 / r13 x50 / r14 x50
#   (+ any r14 births). r15 mandatory = the 48 r12-green rows
#   (window-hard at r15): a_approx_sketches, a_exact_distinct_median,
#   p2_projection_rename (trivial, also window-OK to r16), ann_centroids,
#   ann_ivf_multiprobe_indexed, ann_pq_adc_appended,
#   ann_pq_adc_indexed, ann_pq_adc_ingest_streaming,
#   ann_semantic_ingest_streaming, asof_last_order_before_event,
#   asof_next_order_after_event, corpus_clean_pipeline,
#   corpus_pack_shards_bpe, corpus_token_budget, dedup_cluster_sizes,
#   dedup_clusters, dedup_exact, dedup_incremental_index,
#   dedup_incremental_streaming, dedup_minhash_lsh, dedup_semantic,
#   dedup_semantic_served, dedup_simhash, dq_failing_rows,
#   f_json_extract, f_scalar_suite, j2_left_join_enrich,
#   multimodal_embed_topk, multimodal_embed_topk_indexed,
#   p6_range_filter, p7_ts_filter, q17_small_quantity_revenue,
#   q18_large_volume_orders, q1_pricing_summary, q20_heavy_suppliers,
#   q2_min_cost_supplier, q3_top_revenue_orders,
#   q4_late_shipments_by_priority, q5_nation_volume,
#   s_setops_segments, t_event_funnel, t_events_hourly,
#   t_events_range_join_windows, t_events_sessionize, text_pii_redact,
#   text_unigram_rarity, w_percentile_standing_orders,
#   w_topk_orders_per_customer — plus R15_ROTATE_IN (r14 births).
#   48 + |R15_ROTATE_IN| <= 50 leaves 2 spare slots: every r14 birth
#   must either take one of the 2 slots (add to R15_ROTATE_IN when
#   born) or be paired with a same-module retirement
#   (RETIRED_FROM_ROTATION), per VERDICT r13 Next #5.
# - r15 export (R15_EXPORT below, the active set): the draft above was
#   re-verified at r15 start against the actual CORRECTNESS_r14 file
#   (50/50 green, key set == R14_EXPORT exactly; rows green r12 but not
#   r13/r14 == precisely the 48 draft rows) and executed with TWO
#   interacting deviations, both driven by this round's verdict items:
#   (a) VERDICT r14 Next #4 retirement applied FIRST — six more
#   strict-variant twins demoted (see RETIRED_FROM_ROTATION r15 block),
#   three of which (asof_next_order_after_event,
#   asof_last_order_before_event, ann_ivf_multiprobe_indexed) sat in
#   the 48-row mandatory block, shrinking it to 45; (b) the four slots
#   that opened went to EVIDENCE-RESET rows — queries whose semantics
#   this round's work changes, making their prior green rows moot:
#   q9_product_profit + q22_dormant_customers (VERDICT Next #3:
#   selective constants retuned so both match nonzero rows — the old
#   hashes proved only empty-set agreement) and ann_pq_adc_topk +
#   ann_pq_recall_eval (VERDICT Next #1: the PQ codebook upgrade to
#   in-subspace Lloyd k-means changes every PQ result; these two are
#   the flagship serve and the recall proof). R15_EXPORT = 45
#   window-hard r12-green rows + text_bm25_topk_deleted_served
#   (R15_ROTATE_IN, first-ever driver row) + 4 evidence resets = 50
#   exactly, ZERO slips (p2_projection_rename stays in — the
#   retirement, not a slip, paid for the extra rows).
# - R16 DRAFT (computed at r15 session end; re-verify against the
#   actual CORRECTNESS_r15 file at r16 start): assuming r15 goes green
#   on R15_EXPORT, the post-r15 histogram over the 143-row pool is
#   r13 x47 / r14 x45 / r15 x50. r16 mandatory = the 47 r13-green rows
#   (window-hard at r16; R13_EXPORT's 50 minus the three r15-retired
#   members retrieval_hybrid_rrf / ann_filtered_topk /
#   t_events_sliding_streaming — recompute at r16 start) plus
#   R16_ROTATE_IN births = 47 + births <= 50: 3 spare slots
#   (machine-checked by test_r16_rotation_fits_budget).
DRIVER_BUDGET = 50

# The round whose R*_EXPORT constant all_queries() applies — bumped
# together with the export swap each rotation. Consumed as the rotation
# seed of tests/test_oracle_parity.py's bounded default sample, so the
# locally-verified extra slice of the registry rotates every round the
# same way the driver export does.
ACTIVE_EXPORT_ROUND = 18

# Retired from the driver rotation at r13 (VERDICT r12 Next #2): strict
# -subset / variant twins whose named guard row carries the family in
# the rotation pool. Retired rows STAY registered — the DuckDB parity
# replica (tests/test_oracle_parity.py) and the empty-input sweep
# re-verify them on every pytest run — they just no longer consume
# driver-budget slots (172 registered vs 50/round made the full cycle
# 3.4 rounds, structurally outside the 3-round staleness window; the
# guard-slip pool grew 6 -> 16 -> 22 by r12). Map: retired row -> the
# kept same-module guard that carries its operator family.
RETIRED_FROM_ROTATION: dict[str, str] = {
    # strict substep of the ADC top-k (codes are computed en route)
    "ann_pq_codes": "ann_pq_adc_topk",
    # shares its oracle verbatim with the kept row
    "ann_pq_rerank_indexed": "ann_pq_rerank_topk",
    # unindexed twin of the kept indexed per-query RRF
    "retrieval_hybrid_rrf_perquery": "retrieval_hybrid_rrf_perquery_indexed",
    # broadcast-strategy twin
    "text_unigram_rarity_bcast": "text_unigram_rarity",
    # superseded by the trained-merges variant (VERDICT r12 Next #2's example)
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
    # --- retired at r15 (VERDICT r14 Next #4: buy rotation headroom;
    # pool 149 -> 143, >= 3 slots of per-round slack) ---
    # asof inverse/variant pair: the kept "last within 30d" row is the
    # same merge-sorted asof kernel with the tightest semantics
    "asof_next_order_after_event": "asof_last_order_within_30d",
    "asof_last_order_before_event": "asof_last_order_within_30d",
    # unindexed twins of kept indexed serves (mirrors the r13
    # retrieval_hybrid_rrf_perquery retirement)
    "retrieval_hybrid_rrf": "retrieval_hybrid_rrf_indexed",
    "ann_filtered_topk": "ann_filtered_indexed",
    # indexed twin of the kept inline multiprobe (same oracle shape)
    "ann_ivf_multiprobe_indexed": "ann_ivf_multiprobe",
    # sliding-window twin of the kept session-window streaming rollup
    "t_events_sliding_streaming": "t_events_sessions_streaming",
    # --- retired at r16 (VERDICT r15 Next #3: pool 144 vs the 145 hard
    # cap = one birth of headroom; buy slack before the trained-coarse
    # work births rows) ---
    # nprobe=1 strict special case of the kept nprobe=2 multiprobe
    # (same probe ranking, same cell scan, block = own label only)
    "ann_ivf_topk": "ann_ivf_multiprobe",
    # unindexed recompute twins of kept indexed/gated serves (the r15
    # retrieval_hybrid_rrf / ann_filtered_topk retirement pattern)
    "text_bm25_topk": "text_bm25_topk_indexed",
    "text_bm25_topk_deleted": "text_bm25_topk_deleted_served",
}

# Queries born in round 9 — mandatory r10 rotate-ins (never driver-checked).
R10_ROTATE_IN: set[str] = {
    "ann_pq_rerank_topk",
    "ann_filtered_topk",
    "ann_mmr_topk",
    "text_bm25_topk",
    "retrieval_hybrid_rrf",
    "t_events_topn_types_streaming",
    "ann_pq_rerank_indexed",
}

# Queries born in round 10 — mandatory r11 rotate-ins (never
# driver-checked). Keep this current as queries are born.
R11_ROTATE_IN: set[str] = {
    "text_bm25_topk_indexed",
    "retrieval_hybrid_rrf_indexed",
    "ann_filtered_indexed",
    "retrieval_hybrid_rrf_perquery",
    "retrieval_hybrid_rrf_perquery_indexed",
    "t_events_topn_types_update_streaming",
    "text_bm25_topk_incremental",
    "text_index_ingest_streaming",
    "ann_filtered_rerank_indexed",
}

# Queries born in round 11 — mandatory r12 rotate-ins (never
# driver-checked). Keep this current as queries are born.
R12_ROTATE_IN: set[str] = {
    "ann_pq_adc_appended",
    "multimodal_embed_topk_indexed",
    "ann_pq_adc_ingest_streaming",
}

# Queries born in round 12 — mandatory r13 rotate-ins (never
# driver-checked). Keep this current as queries are born.
R13_ROTATE_IN: set[str] = {
    "text_bm25_topk_deleted",
    "text_bm25_topk_updated",
    "ann_pq_adc_deleted",
    "dedup_minhash_deleted",
    "ann_ivf_multiprobe_deleted",
    "ann_pq_adc_appended_served",
}

# The retired r10 export set (kept: the rotation-ledger enforcement test
# and the judge's cross-round audit recompute staleness against it).
R10_EXPORT = {
    # r7-stale — hit the 3-round window this round (priority 1)
    "a4_sales_by_nation",
    "a6_unique_violations",
    "a_rollup_revenue",
    "ann_incremental_assign",
    "ann_ivf_multiprobe",
    "ann_ivf_topk",
    "ann_quantize_int8",
    "corpus_chunk_documents",
    "corpus_mixture_epochs",
    "corpus_pack_sequences",
    "corpus_pack_sequences_bpe",
    "corpus_pack_shards",
    "corpus_sample_stratified",
    "corpus_train_val_split",
    "dedup_embedding_cosine",
    "dedup_incremental_pruned",
    "dedup_passages",
    "dedup_simhash_pairs",
    "dedup_source_overlap",
    "j7_anti_orphans",
    "j_salted_events_enrich",
    "j_semi_active_customers",
    "multimodal_meta",
    "q10_returned_item_losers",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q16_supplier_breadth",
    "q19_branded_quantity_revenue",
    "q6_forecast_revenue_delta",
    "t_event_funnel_streaming",
    "t_event_transitions",
    "t_events_dedup_streaming",
    "t_events_hourly_append",
    "t_events_hourly_streaming",
    "t_events_rate_anomalies",
    "t_events_sessions_streaming",
    "t_events_sliding_streaming",
    "t_user_retention",
    "text_contamination",
    "text_quality",
    "text_token_count",
    "text_top_ngrams",
    "w_running_total_events",
    # r9-born, never driver-checked (priority 1) — R10_ROTATE_IN
    "ann_pq_rerank_topk",
    "ann_filtered_topk",
    "ann_mmr_topk",
    "text_bm25_topk",
    "retrieval_hybrid_rrf",
    "t_events_topn_types_streaming",
    "ann_pq_rerank_indexed",
}

# The retired r11 export set (kept: rotation-ledger enforcement and the
# judge's cross-round audit recompute staleness against it).
R11_EXPORT = {
    # r8-stale — hit the 3-round window this round (priority 2; 41 of
    # the 47, the 6 family-guarded slips documented in the ledger above)
    "a1_loyalty_metrics",
    "a_grouping_sets_status_priority",
    "ann_hard_negatives",
    "ann_ivfpq_topk",
    "ann_pq_adc_topk",
    "ann_pq_codes",
    "ann_pq_recall_eval",
    "ann_recall_eval",
    "ann_topk_bruteforce",
    "asof_last_order_within_30d",
    "corpus_dedup_cascade",
    "corpus_ingest_streaming",
    "corpus_pack_efficiency",
    "corpus_quality_report",
    "corpus_shuffle_order",
    "corpus_temperature_sample",
    "dedup_ngram_jaccard",
    "f_datetime_suite",
    "j1_orders_denorm",
    "j_full_outer_daily_reconciliation",
    "multimodal_patch_grid",
    "q11_important_suppliers",
    "q12_priority_by_shipmode",
    "q13_order_count_distribution",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "t_events_dedup_wm_streaming",
    "t_events_stream_stream_join",
    "text_bigram_coverage",
    "text_bpe_train_merges",
    "text_fingerprint",
    "text_lang_id",
    "text_levenshtein_pairs",
    "text_quality_classifier",
    "text_repetition",
    "text_stats",
    "text_token_count_bpe_trained",
    "w_ntile_customer_value_quartiles",
    # r10-born, never driver-checked (priority 1) — R11_ROTATE_IN
    "ann_filtered_indexed",
    "ann_filtered_rerank_indexed",
    "retrieval_hybrid_rrf_indexed",
    "retrieval_hybrid_rrf_perquery",
    "retrieval_hybrid_rrf_perquery_indexed",
    "t_events_topn_types_update_streaming",
    "text_bm25_topk_incremental",
    "text_bm25_topk_indexed",
    "text_index_ingest_streaming",
}

# The authoritative r12 export set: the ledger draft above, verbatim.
# all_queries() applies it over the per-decorator driver= defaults so a
# rotation is one list edit here.
R12_EXPORT = {
    # r9-stale — hit the 3-round window this round (34 of the 50; the
    # 16 family-guarded slips documented in the ledger above)
    "a_approx_sketches",
    "a_exact_distinct_median",
    "ann_centroids",
    "ann_ivf_multiprobe_indexed",
    "ann_semantic_ingest_streaming",
    "asof_last_order_before_event",
    "corpus_clean_pipeline",
    "corpus_token_budget",
    "dedup_clusters",
    "dedup_exact",
    "dedup_incremental_index",
    "dedup_incremental_streaming",
    "dedup_minhash_lsh",
    "dedup_semantic",
    "dedup_semantic_served",
    "dedup_simhash",
    "j2_left_join_enrich",
    "multimodal_embed_topk",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q1_pricing_summary",
    "q20_heavy_suppliers",
    "q2_min_cost_supplier",
    "q3_top_revenue_orders",
    "q4_late_shipments_by_priority",
    "q5_nation_volume",
    "s_setops_segments",
    "t_event_funnel",
    "t_events_hourly",
    "t_events_range_join_windows",
    "t_events_sessionize",
    "text_pii_redact",
    "text_unigram_rarity",
    "w_topk_orders_per_customer",
    # the 7 twice-slipped trivials — 4-round window HARD this round
    "s4_source_passthrough",
    "p2_projection_rename",
    "p6_range_filter",
    "p7_ts_filter",
    "dq_failing_rows",
    "f_scalar_suite",
    "f_json_extract",
    # the 6 r8-stale rows slipped at r11 — window-hard this round
    "a_unpivot_status_revenue",
    "asof_next_order_after_event",
    "ann_pq_adc_indexed",
    "corpus_pack_shards_bpe",
    "dedup_cluster_sizes",
    "w_percentile_standing_orders",
    # r11-born, never driver-checked — R12_ROTATE_IN
    "ann_pq_adc_appended",
    "multimodal_embed_topk_indexed",
    "ann_pq_adc_ingest_streaming",
}

# Queries born in round 13 — mandatory r14 rotate-ins (never
# driver-checked). Keep this current as queries are born.
R14_ROTATE_IN: set[str] = {
    "dedup_semantic_deleted",
    "multimodal_embed_topk_deleted",
}

# The authoritative r13 export set: the revised ledger draft above
# (retirement applied first, zero slips). all_queries() applies it over
# the per-decorator driver= defaults so a rotation is one list edit here.
R13_EXPORT = {
    # the 28 kept r10-stale rows — hit the 3-round window this round
    "a4_sales_by_nation",
    "a6_unique_violations",
    "ann_ivf_topk",
    "ann_mmr_topk",
    "ann_pq_rerank_topk",
    "corpus_chunk_documents",
    "corpus_pack_sequences",
    "corpus_pack_shards",
    "corpus_sample_stratified",
    "dedup_source_overlap",
    "j7_anti_orphans",
    "j_salted_events_enrich",
    "multimodal_meta",
    "q10_returned_item_losers",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q16_supplier_breadth",
    "q19_branded_quantity_revenue",
    "q6_forecast_revenue_delta",
    "retrieval_hybrid_rrf",
    "t_event_transitions",
    "t_events_hourly_streaming",
    "t_events_sessions_streaming",
    "t_events_topn_types_streaming",
    "text_bm25_topk",
    "text_contamination",
    "text_quality",
    "w_running_total_events",
    # the 12 non-retired rows of the old 22-slip draft — also r10-stale,
    # window-hard this round (their drafted slips are moot post-retirement)
    "ann_ivf_multiprobe",
    "ann_incremental_assign",
    "ann_quantize_int8",
    "ann_filtered_topk",
    "corpus_train_val_split",
    "t_events_sliding_streaming",
    "t_event_funnel_streaming",
    "t_events_dedup_streaming",
    "t_events_rate_anomalies",
    "t_user_retention",
    "dedup_embedding_cosine",
    "dedup_incremental_pruned",
    # the 2 non-retired r12 slips (last green r9; guarded slips get
    # exactly one extra round — window-hard this round)
    "multimodal_decode",
    "multimodal_frame_sample",
    # r12-born, never driver-checked — R13_ROTATE_IN (the delete matrix)
    "text_bm25_topk_deleted",
    "text_bm25_topk_updated",
    "ann_pq_adc_deleted",
    "dedup_minhash_deleted",
    "ann_ivf_multiprobe_deleted",
    "ann_pq_adc_appended_served",
    # 2 spare budget slots: r11-green rows pulled forward to lighten
    # the r14 window (46 + 2 rotate-ins = 48 <= 50): the 6-way-join
    # bench headliner, and the grouping-sets general form that guards
    # the retired cube/rollup twins
    "j1_orders_denorm",
    "a_grouping_sets_status_priority",
}

# Queries born in round 14 — mandatory r15 rotate-ins (never
# driver-checked). Keep this current as queries are born; at most 2
# fit the r15 draft's spare slots — further births need a paired
# retirement (see the R15 DRAFT ledger entry above).
R15_ROTATE_IN: set[str] = {
    # the gated-serve bench headline (r13 verdict Next #3) — takes the
    # first of the 2 spare r15 slots
    "text_bm25_topk_deleted_served",
}

# The authoritative r14 export set: the r13 ledger draft, re-verified
# against CORRECTNESS_r13 at r14 start and executed verbatim (zero
# slips). all_queries() applies it over the per-decorator driver=
# defaults so a rotation is one list edit here.
R14_EXPORT = {
    # the 46 r11-green rows — window-hard this round
    "a1_loyalty_metrics",
    "ann_filtered_indexed",
    "ann_filtered_rerank_indexed",
    "ann_hard_negatives",
    "ann_ivfpq_topk",
    "ann_pq_adc_topk",
    "ann_pq_recall_eval",
    "ann_recall_eval",
    "ann_topk_bruteforce",
    "asof_last_order_within_30d",
    "corpus_dedup_cascade",
    "corpus_ingest_streaming",
    "corpus_pack_efficiency",
    "corpus_quality_report",
    "corpus_shuffle_order",
    "corpus_temperature_sample",
    "dedup_ngram_jaccard",
    "f_datetime_suite",
    "j_full_outer_daily_reconciliation",
    "multimodal_patch_grid",
    "q11_important_suppliers",
    "q12_priority_by_shipmode",
    "q13_order_count_distribution",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "retrieval_hybrid_rrf_indexed",
    "retrieval_hybrid_rrf_perquery_indexed",
    "t_events_dedup_wm_streaming",
    "t_events_stream_stream_join",
    "t_events_topn_types_update_streaming",
    "text_bigram_coverage",
    "text_bm25_topk_incremental",
    "text_bm25_topk_indexed",
    "text_bpe_train_merges",
    "text_fingerprint",
    "text_index_ingest_streaming",
    "text_lang_id",
    "text_levenshtein_pairs",
    "text_quality_classifier",
    "text_repetition",
    "text_stats",
    "text_token_count_bpe_trained",
    "w_ntile_customer_value_quartiles",
    # r13-born, never driver-checked — R14_ROTATE_IN (the delete-serve
    # twins' first-ever driver rows)
    "dedup_semantic_deleted",
    "multimodal_embed_topk_deleted",
    # the 2 fills from the r12-greens: the twice-window-pressured
    # trivial s4, plus a_unpivot_status_revenue (drafted: p2 — swapped
    # to keep an a_* family representative exported, see the ledger
    # deviation note above; both fills are r15-mandatory rows pulled
    # forward, so the r15 block is lightened either way)
    "s4_source_passthrough",
    "a_unpivot_status_revenue",
}


# Queries born in round 15 — mandatory r16 rotate-ins (never
# driver-checked). Keep this current as queries are born; 3 spare
# slots fit the R16 draft (47 window-hard r13 rows) — further births
# need a paired retirement.
R16_ROTATE_IN: set[str] = {
    # the persisted IVF+PQ serve (partition-pruned ADC over the
    # label-partitioned codes) — takes the first of the 3 spare slots
    "ann_ivfpq_indexed",
}

# Queries born in round 16 — mandatory r17 rotate-ins (never
# driver-checked). Keep this current as queries are born.
R17_ROTATE_IN: set[str] = {
    # the append-grown IVFPQ serve (frozen trained cells + frozen PQ
    # codebook, per-cell dynamic-partition appends) — takes the first
    # of the nine spare r17 slots
    "ann_ivfpq_appended_served",
}

# Queries born in round 17 — mandatory r18 rotate-ins. r17 births NO
# new queries (the trained-coarse wiring re-keys existing rows and
# evidences through their resets), so this stays empty unless late-r17
# work births one.
R18_ROTATE_IN: set[str] = set()

# Queries born in round 18 — mandatory r19 rotate-ins. r18 is an
# optimization round and births NO new queries (the persisted per-term
# df is an index ARTIFACT shared by existing bm25 serves, not a query;
# its rows evidence through the r18 bm25 re-greens below), so this
# stays empty.
R19_ROTATE_IN: set[str] = set()

# R19 DRAFT (computed at r18 session end; re-verify against the actual
# CORRECTNESS_r18 file at r19 start): assuming r18 goes green on
# R18_EXPORT, the post-r18 histogram over the 142-row pool is
# r16 x45 / r17 x47 / r18 x50 (the r18 spares re-greened
# text_bm25_topk_updated out of the r16 block and 3 r17 rows). r19
# mandatory = the 45 r16-green rows + R19_ROTATE_IN births (none):
# FIVE spare slots. Spend them on (priority order, r18 ledger):
# - retrieval_hybrid_rrf_indexed + retrieval_hybrid_rrf_perquery_indexed
#   (both r17-green, both serve through the r18-changed bm25 index
#   read path — the two changed-code rows the r18 spares could not
#   fit; their results are r18-parity-green locally);
# - dedup_incremental_pruned + ann_pq_rerank_topk are ALREADY in the
#   45-row window-hard block (r16-green), so VERDICT r17 Next #4's
#   remaining non-retired rows get their fresh driver rows at r19
#   automatically; its other two names (dedup_minhash_verified,
#   retrieval_hybrid_rrf_perquery) are RETIRED_FROM_ROTATION
#   strict-variant twins — parity-only by the r13+ retirement policy,
#   un-retiring them would need a policy reversal, not a spare slot.

# R18 DRAFT (computed at r17 session end; re-verify against the actual
# CORRECTNESS_r17 file at r18 start): assuming r17 goes green on
# R17_EXPORT, the post-r17 histogram over the 142-row pool is
# r15 x46 / r16 x46 / r17 x50. r18 mandatory = the 46 r15-green rows
# (R15_EXPORT's 50 minus ann_centroids — the r17 evidence reset — and
# the 3 r17 pull-forwards dedup_semantic / dedup_semantic_served /
# dedup_exact, all re-greened at r17) + R18_ROTATE_IN births:
# 46 + births <= 50: FOUR spare slots by this draft's arithmetic
# (test_r18_rotation_fits_budget machine-enforces the weaker >= 3-spare
# floor — r17 review finding 3: don't read the cited check as
# guaranteeing the 4th slot). Use the spare slots on r16-green
# pull-forwards to lighten r19 (46 r16-green rows window-hard there)
# unless r18 work births rows or forces resets. Exact 46: the
# remaining R15_EXPORT block — a_approx_sketches,
# a_exact_distinct_median, ann_pq_adc_appended, ann_pq_adc_indexed,
# ann_pq_adc_ingest_streaming, ann_pq_adc_topk, ann_pq_recall_eval,
# ann_semantic_ingest_streaming, corpus_clean_pipeline,
# corpus_pack_shards_bpe, corpus_token_budget, dedup_cluster_sizes,
# dedup_clusters, dedup_incremental_index, dedup_incremental_streaming,
# dedup_minhash_lsh, dedup_simhash, dq_failing_rows, f_json_extract,
# f_scalar_suite, j2_left_join_enrich, multimodal_embed_topk,
# multimodal_embed_topk_indexed, p2_projection_rename, p6_range_filter,
# p7_ts_filter, q17_small_quantity_revenue, q18_large_volume_orders,
# q1_pricing_summary, q20_heavy_suppliers, q22_dormant_customers,
# q2_min_cost_supplier, q3_top_revenue_orders,
# q4_late_shipments_by_priority, q5_nation_volume, q9_product_profit,
# s_setops_segments, t_event_funnel, t_events_hourly,
# t_events_range_join_windows, t_events_sessionize,
# text_bm25_topk_deleted_served, text_pii_redact, text_unigram_rarity,
# w_percentile_standing_orders, w_topk_orders_per_customer.

# R17 DRAFT (computed at r16 session end; re-verify against the actual
# CORRECTNESS_r16 file at r17 start): assuming r16 goes green on
# R16_EXPORT, the post-r16 histogram over the 141-row pool is
# r14 x41 / r15 x50 / r16 x50. r17 mandatory = the 41 r14-green rows
# (R14_EXPORT's 50 minus the 4 r15 evidence resets, minus the r16
# reset ann_ivfpq_topk and the 4 r16 pull-forwards — all re-greened
# since) plus R17_ROTATE_IN births: 41 + births <= 50, NINE spare
# slots (machine-checked by test_r17_rotation_fits_budget). NOTE for
# the r17 planner: if r17 Lloyd-trains the remaining label-mean ANN
# assignment family (build_ann_index / multiprobe — the natural next
# lift after the r16 IVFPQ coarse work), the touched rows
# (ann_ivf_multiprobe, ann_centroids, ann_incremental_assign,
# dedup_semantic*, multimodal_embed_topk*, ann_filtered_*, the ANN
# streaming ingests) need EVIDENCE RESETS — several are r15/r16-green,
# so the nine spare slots are what makes that change affordable
# without retirements.

# The authoritative r16 export set: the R16 draft above, re-verified at
# r16 start against the actual CORRECTNESS_r15 file (50/50 green, key
# set == R15_EXPORT exactly, zero zero-row rows; post-r15 histogram
# over the then-144 pool = r13 x47 / r14 x46 / r15 x50 + 1
# never-checked) and executed with the r15 playbook:
# - retirement FIRST (VERDICT r15 Next #3): three more strict-variant
#   twins demoted (RETIRED_FROM_ROTATION r16 block), all three sitting
#   in the 47-row window-hard block, shrinking it to 44 and the pool
#   to 141 (4 slots of per-round slack against the 145 cap);
# - R16_ROTATE_IN: ann_ivfpq_indexed's first-ever driver row;
# - EVIDENCE RESET (the r15 precedent): ann_ivfpq_topk — this round
#   Lloyd-trains the IVF COARSE quantizer (VERDICT r15 Next #2), so
#   the IVFPQ pair now probes trained cells instead of ingest labels
#   and every prior green row evidences a retired semantics. The
#   indexed twin shares the updated oracle and is the rotate-in above.
# - the 4 remaining slots pull r14-green rows forward to lighten the
#   r17 window (R14_EXPORT minus the 4 r15 evidence resets = 46
#   r14-green rows window-hard at r17; the reset + 4 pulls cut that
#   to 41): a1_loyalty_metrics (the expensive two-level agg bench
#   headliner), ann_recall_eval + ann_topk_bruteforce (the recall
#   eval's two legs, untouched by the coarse work — their reset is
#   NOT needed: both rank on exact vectors, no coarse probe), and
#   asof_last_order_within_30d (the asof family's sole pool row).
# R16_EXPORT = 44 window-hard + 1 rotate-in + 1 evidence reset +
# 4 pull-forwards = 50 exactly, zero slips.
R16_EXPORT = {
    # the 44 window-hard r13-green rows (47 minus the three r16-retired
    # twins ann_ivf_topk / text_bm25_topk / text_bm25_topk_deleted)
    "a4_sales_by_nation",
    "a6_unique_violations",
    "a_grouping_sets_status_priority",
    "ann_incremental_assign",
    "ann_ivf_multiprobe",
    "ann_ivf_multiprobe_deleted",
    "ann_mmr_topk",
    "ann_pq_adc_appended_served",
    "ann_pq_adc_deleted",
    "ann_pq_rerank_topk",
    "ann_quantize_int8",
    "corpus_chunk_documents",
    "corpus_pack_sequences",
    "corpus_pack_shards",
    "corpus_sample_stratified",
    "corpus_train_val_split",
    "dedup_embedding_cosine",
    "dedup_incremental_pruned",
    "dedup_minhash_deleted",
    "dedup_source_overlap",
    "j1_orders_denorm",
    "j7_anti_orphans",
    "j_salted_events_enrich",
    "multimodal_decode",
    "multimodal_frame_sample",
    "multimodal_meta",
    "q10_returned_item_losers",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q16_supplier_breadth",
    "q19_branded_quantity_revenue",
    "q6_forecast_revenue_delta",
    "t_event_funnel_streaming",
    "t_event_transitions",
    "t_events_dedup_streaming",
    "t_events_hourly_streaming",
    "t_events_rate_anomalies",
    "t_events_sessions_streaming",
    "t_events_topn_types_streaming",
    "t_user_retention",
    "text_bm25_topk_updated",
    "text_contamination",
    "text_quality",
    "w_running_total_events",
    # r15-born, never driver-checked — R16_ROTATE_IN (the persisted
    # IVFPQ serve's first driver row, now over TRAINED coarse cells)
    "ann_ivfpq_indexed",
    # evidence reset: the inline IVFPQ twin's coarse quantizer is now
    # Lloyd-trained (VERDICT r15 Next #2) — prior greens evidence the
    # label-cell semantics this round retires
    "ann_ivfpq_topk",
    # the 4 pull-forwards from the r14-green block (ledger note above)
    "a1_loyalty_metrics",
    "ann_recall_eval",
    "ann_topk_bruteforce",
    "asof_last_order_within_30d",
}

# The authoritative r17 export set: the R17 draft above, re-verified at
# r17 start against the actual CORRECTNESS_r16 file (50/50 green, key
# set == R16_EXPORT exactly, zero zero-row rows; post-r16 histogram
# over the 142-row pool recomputed as r14 x41 / r15 x50 / r16 x50 + 1
# never-checked = ann_ivfpq_appended_served) and executed with the
# r15/r16 playbook:
# - the 41 window-hard r14-green rows (R14_EXPORT minus the r15/r16
#   evidence resets and pull-forwards, all re-greened since) are
#   exported outright — zero slips;
# - R17_ROTATE_IN: ann_ivfpq_appended_served's first-ever driver row
#   (the r16 ledger executed exactly);
# - EVIDENCE RESETS x5 (the r15/r16 precedent): this round wires the
#   Lloyd-TRAINED coarse quantizer into the PLAIN IVF family (VERDICT
#   r16 Next #2 option (a) — build_ann_index / ann_index_append /
#   the multiprobe serves now assign and probe trained cells via
#   _assign_cells, not frozen ingest-label means), so every prior
#   green row of the re-keyed serves evidences retired semantics:
#   ann_ivf_multiprobe (r16-green), ann_ivf_multiprobe_deleted (r16),
#   ann_incremental_assign (r16), ann_centroids (r15 — now the
#   trained-cell exposure), ann_recall_eval (r16 — its IVF leg rides
#   the re-keyed multiprobe). The dedup_semantic* family and
#   ann_semantic_ingest_streaming stay on ingest-label BLOCKING by
#   documented contract (VERDICT r16 Next #2 option (b) for dedup:
#   blocking is a deterministic partition contract where cells arrive
#   pre-assigned; the oracle mirrors the blocking) — no resets there.
#   multimodal_embed_topk*, retrieval_hybrid_rrf*, ann_hard_negatives
#   and the flat-PQ ADC family ride brute-force or PQ codes, never the
#   coarse cells — no resets (verified rider-by-rider this session).
# - the 3 remaining slots pull r15-green rows forward to lighten the
#   r18 window (50 r15-green rows would otherwise all be window-hard
#   at r18 — over the 47-row stale bound; the resets + pulls cut r18
#   to 46): dedup_semantic + dedup_semantic_served (the two bench
#   watch items — fresh driver rows pin that the label-blocking
#   contract left their results unchanged) and dedup_exact (the
#   exact-dedup bench headliner).
# R17_EXPORT = 41 window-hard + 1 rotate-in + 5 evidence resets +
# 3 pull-forwards = 50 exactly, zero slips.
R17_EXPORT = {
    # the 41 window-hard r14-green rows
    "a_unpivot_status_revenue",
    "ann_filtered_indexed",
    "ann_filtered_rerank_indexed",
    "ann_hard_negatives",
    "corpus_dedup_cascade",
    "corpus_ingest_streaming",
    "corpus_pack_efficiency",
    "corpus_quality_report",
    "corpus_shuffle_order",
    "corpus_temperature_sample",
    "dedup_ngram_jaccard",
    "dedup_semantic_deleted",
    "f_datetime_suite",
    "j_full_outer_daily_reconciliation",
    "multimodal_embed_topk_deleted",
    "multimodal_patch_grid",
    "q11_important_suppliers",
    "q12_priority_by_shipmode",
    "q13_order_count_distribution",
    "q21_waiting_suppliers",
    "q7_volume_shipping",
    "q8_market_share",
    "retrieval_hybrid_rrf_indexed",
    "retrieval_hybrid_rrf_perquery_indexed",
    "s4_source_passthrough",
    "t_events_dedup_wm_streaming",
    "t_events_stream_stream_join",
    "t_events_topn_types_update_streaming",
    "text_bigram_coverage",
    "text_bm25_topk_incremental",
    "text_bm25_topk_indexed",
    "text_bpe_train_merges",
    "text_fingerprint",
    "text_index_ingest_streaming",
    "text_lang_id",
    "text_levenshtein_pairs",
    "text_quality_classifier",
    "text_repetition",
    "text_stats",
    "text_token_count_bpe_trained",
    "w_ntile_customer_value_quartiles",
    # r16-born, never driver-checked — R17_ROTATE_IN (the append-grown
    # IVFPQ serve's first driver row)
    "ann_ivfpq_appended_served",
    # evidence resets: the plain-IVF family probes Lloyd-TRAINED cells
    # this round (ledger note above) — prior greens evidence the
    # retired label-mean semantics
    "ann_ivf_multiprobe",
    "ann_ivf_multiprobe_deleted",
    "ann_incremental_assign",
    "ann_centroids",
    "ann_recall_eval",
    # the 3 pull-forwards from the r15-green block (ledger note above)
    "dedup_semantic",
    "dedup_semantic_served",
    "dedup_exact",
}

# The authoritative r18 export set: the R18 draft above, re-verified at
# r18 start against the actual CORRECTNESS_r17 file (50/50 green, key
# set == R17_EXPORT exactly; post-r17 histogram over the 142-row pool
# recomputed from the artifacts as r15 x46 / r16 x46 / r17 x50, zero
# never-checked rows) and executed with the r15-r17 playbook:
# - the 46 window-hard r15-green rows (the R18 draft's exact list,
#   machine-recomputed) are exported outright — zero slips;
# - R18_ROTATE_IN: empty (r17 birthed no queries);
# - the 4 spare slots are EVIDENCE RE-GREENS for the r18 persisted
#   per-term df statistic (textops._text_df_table): the bm25 serve
#   internals changed (df now read from the persisted table instead of
#   re-aggregated over the spine/postings join; append/delete/fold grew
#   idempotent df-merge contracts), results PROVABLY unchanged (shared
#   recompute oracles, local parity green), and fresh driver rows pin
#   that — text_bm25_topk_indexed, text_bm25_topk_incremental
#   (build+append+serve end to end), text_bm25_topk_updated
#   (delete+fold+re-append — exercises the fold's df rebuild), and
#   text_index_ingest_streaming (the streaming append path). Together
#   with the window-hard text_bm25_topk_deleted_served, ALL FIVE
#   non-retired bm25 serve rows are r18-checked (VERDICT r17 Next #3).
# - deferred to the R19 draft above: the two r18-changed hybrid serves
#   (retrieval_hybrid_rrf_indexed, retrieval_hybrid_rrf_perquery_
#   indexed) — r17-green, no free slot this round.
# R18_EXPORT = 46 window-hard + 4 bm25 re-greens = 50 exactly.
R18_EXPORT = {
    # the 46 window-hard r15-green rows
    "a_approx_sketches",
    "a_exact_distinct_median",
    "ann_pq_adc_appended",
    "ann_pq_adc_indexed",
    "ann_pq_adc_ingest_streaming",
    "ann_pq_adc_topk",
    "ann_pq_recall_eval",
    "ann_semantic_ingest_streaming",
    "corpus_clean_pipeline",
    "corpus_pack_shards_bpe",
    "corpus_token_budget",
    "dedup_cluster_sizes",
    "dedup_clusters",
    "dedup_incremental_index",
    "dedup_incremental_streaming",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dq_failing_rows",
    "f_json_extract",
    "f_scalar_suite",
    "j2_left_join_enrich",
    "multimodal_embed_topk",
    "multimodal_embed_topk_indexed",
    "p2_projection_rename",
    "p6_range_filter",
    "p7_ts_filter",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q1_pricing_summary",
    "q20_heavy_suppliers",
    "q22_dormant_customers",
    "q2_min_cost_supplier",
    "q3_top_revenue_orders",
    "q4_late_shipments_by_priority",
    "q5_nation_volume",
    "q9_product_profit",
    "s_setops_segments",
    "t_event_funnel",
    "t_events_hourly",
    "t_events_range_join_windows",
    "t_events_sessionize",
    "text_bm25_topk_deleted_served",
    "text_pii_redact",
    "text_unigram_rarity",
    "w_percentile_standing_orders",
    "w_topk_orders_per_customer",
    # the 4 bm25 evidence re-greens (ledger note above)
    "text_bm25_topk_indexed",
    "text_bm25_topk_incremental",
    "text_bm25_topk_updated",
    "text_index_ingest_streaming",
}


# The retired r15 export set: the R15 draft, re-verified against
# CORRECTNESS_r14 at r15 start and executed with the documented
# retirement-first + evidence-reset deviations (ledger above).
# all_queries() applies it over the per-decorator driver= defaults so a
# rotation is one list edit here.
R15_EXPORT = {
    # the 45 window-hard r12-green rows (48 draft minus the three
    # r15-retired twins)
    "a_approx_sketches",
    "a_exact_distinct_median",
    "ann_centroids",
    "ann_pq_adc_appended",
    "ann_pq_adc_indexed",
    "ann_pq_adc_ingest_streaming",
    "ann_semantic_ingest_streaming",
    "corpus_clean_pipeline",
    "corpus_pack_shards_bpe",
    "corpus_token_budget",
    "dedup_cluster_sizes",
    "dedup_clusters",
    "dedup_exact",
    "dedup_incremental_index",
    "dedup_incremental_streaming",
    "dedup_minhash_lsh",
    "dedup_semantic",
    "dedup_semantic_served",
    "dedup_simhash",
    "dq_failing_rows",
    "f_json_extract",
    "f_scalar_suite",
    "j2_left_join_enrich",
    "multimodal_embed_topk",
    "multimodal_embed_topk_indexed",
    "p2_projection_rename",
    "p6_range_filter",
    "p7_ts_filter",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q1_pricing_summary",
    "q20_heavy_suppliers",
    "q2_min_cost_supplier",
    "q3_top_revenue_orders",
    "q4_late_shipments_by_priority",
    "q5_nation_volume",
    "s_setops_segments",
    "t_event_funnel",
    "t_events_hourly",
    "t_events_range_join_windows",
    "t_events_sessionize",
    "text_pii_redact",
    "text_unigram_rarity",
    "w_percentile_standing_orders",
    "w_topk_orders_per_customer",
    # r14-born, never driver-checked — R15_ROTATE_IN (the gated-serve
    # bench headliner's first driver row)
    "text_bm25_topk_deleted_served",
    # evidence resets (ledger above): constants retuned to match
    # nonzero rows (VERDICT Next #3) ...
    "q9_product_profit",
    "q22_dormant_customers",
    # ... and the PQ-codebook Lloyd upgrade's flagship serve + recall
    # proof (VERDICT Next #1)
    "ann_pq_adc_topk",
    "ann_pq_recall_eval",
}


def query(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    driver: bool = True,
):
    """Decorator registering a query (and optional DuckDB oracle)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = RegisteredQuery(name, fn, oracle, headline, driver)
        return fn

    return deco


def all_queries() -> dict[str, RegisteredQuery]:
    # Import operator modules for their registration side effects.
    from dbt_on_snowflake_spark import operators  # noqa: F401

    # Apply the round's rotation: the export list above is authoritative.
    for n, q in QUERIES.items():
        q.driver = n in R18_EXPORT
    return QUERIES


def driver_queries() -> dict[str, RegisteredQuery]:
    """The curated <= DRIVER_BUDGET set exported to the driver gate."""
    return {n: q for n, q in all_queries().items() if q.driver}
