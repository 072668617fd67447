"""Machine-enforcement of the driver-export rotation ledger.

The registry keeps every registered query driver-green within a bounded
staleness window by rotating which 50 queries export each round
(``registry.py`` ledger comment). Until r10 the obligation arithmetic
lived only in that comment and the judge recomputed it by hand each
round (VERDICT r10, Next #3). This test derives the obligations from
the actual ``CORRECTNESS_r*.json`` history plus the registry and fails
if the active export set violates the policy:

- **Rotate-ins are mandatory**: every row in the current round's
  ``R*_ROTATE_IN`` ledger (born last round, never driver-checked) must
  be exported.
- **Never-checked rows are accounted**: a registered query that has no
  CORRECTNESS row ever must be exported now or ledgered for the next
  round's rotation.
- **Staleness window**: a row last driver-green in round ``N - 3`` or
  earlier (N = current round) must be exported, unless it belongs to a
  documented slip class:

  - *trivial* single-operator shapes (explicit list) may slip to a
    4-round hard window — the per-pytest parity replica re-verifies
    them on every run;
  - *family-guarded* rows may slip exactly one round past the 3-round
    window if a named same-family guard row is exported this round.

The policy check is applied to the ACTIVE export and, retroactively, to
the retired R10 export against the r1–r9 history (proving the checker
agrees with the judge's by-hand audit of r10).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from dbt_on_snowflake_spark.registry import (
    DRIVER_BUDGET,
    R10_EXPORT,
    R10_ROTATE_IN,
    R11_EXPORT,
    R11_ROTATE_IN,
    R12_EXPORT,
    R12_ROTATE_IN,
    R13_EXPORT,
    R13_ROTATE_IN,
    R14_EXPORT,
    R14_ROTATE_IN,
    R15_EXPORT,
    R15_ROTATE_IN,
    R16_EXPORT,
    R16_ROTATE_IN,
    R17_EXPORT,
    R17_ROTATE_IN,
    R18_EXPORT,
    R18_ROTATE_IN,
    R19_ROTATE_IN,
    RETIRED_FROM_ROTATION,
    all_queries,
)

# Rows retired at r15 / r16 (registry RETIRED_FROM_ROTATION blocks).
# The retroactive audits of earlier rounds pass the then-active retired
# set so a later retirement cannot mask an obligation that existed at
# the time.
R15_RETIREMENTS = {
    "asof_next_order_after_event",
    "asof_last_order_before_event",
    "retrieval_hybrid_rrf",
    "ann_filtered_topk",
    "ann_ivf_multiprobe_indexed",
    "t_events_sliding_streaming",
}
R16_RETIREMENTS = {
    "ann_ivf_topk",
    "text_bm25_topk",
    "text_bm25_topk_deleted",
}
R15_ERA_RETIRED = set(RETIRED_FROM_ROTATION) - R16_RETIREMENTS
R13_ERA_RETIRED = R15_ERA_RETIRED - R15_RETIREMENTS

REPO = Path(__file__).resolve().parent.parent

# Documented slip classes (ledger comment, registry.py).
TRIVIAL_SLIPS = {
    "s4_source_passthrough",
    "p2_projection_rename",
    "p6_range_filter",
    "p7_ts_filter",
    "dq_failing_rows",
    "f_scalar_suite",
    "f_json_extract",
}
# slipped row -> exported same-family guard. Entries accumulate across
# rounds: a pair only fires while its slip row is in the guarded-slip
# window, so retired pairs are harmless and keep the retro audits exact.
FAMILY_GUARD_SLIPS = {
    # r11 slips (guards exported in R11_EXPORT)
    "a_unpivot_status_revenue": "a_grouping_sets_status_priority",
    "asof_next_order_after_event": "asof_last_order_within_30d",
    "ann_pq_adc_indexed": "ann_pq_adc_topk",
    "corpus_pack_shards_bpe": "corpus_pack_efficiency",
    "dedup_cluster_sizes": "dedup_ngram_jaccard",
    "w_percentile_standing_orders": "w_ntile_customer_value_quartiles",
}
# r12 slips (guards exported in R12_EXPORT): A/B twins and
# inverse/variant shapes of exported rows, per the registry ledger.
FAMILY_GUARD_SLIPS.update({
    "text_unigram_rarity_bcast": "text_unigram_rarity",
    "text_token_count_bpe": "text_unigram_rarity",
    "corpus_mixture_sample": "corpus_token_budget",
    "corpus_mixture_sample_bpe": "corpus_token_budget",
    "corpus_token_budget_hist": "corpus_token_budget",
    "corpus_token_budget_hist_bpe": "corpus_token_budget",
    "a_cube_status_priority": "a_unpivot_status_revenue",
    "a_pivot_status_revenue": "a_unpivot_status_revenue",
    "dedup_semantic_greedy": "dedup_semantic",
    "dedup_minhash_verified": "dedup_minhash_lsh",
    "dedup_containment": "dedup_minhash_lsh",
    "multimodal_decode": "multimodal_embed_topk",
    "multimodal_frame_sample": "multimodal_embed_topk",
    "t_monthly_revenue": "t_events_hourly",
})


def correctness_history(upto: int) -> dict[str, int]:
    """Map query -> last round it was driver-green, from the artifacts."""
    last: dict[str, int] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        n = int(re.search(r"r(\d+)", path.name).group(1))
        if n > upto:
            continue
        rows = json.loads(path.read_text())
        for name, row in rows.items():
            # a row counts as green only if the driver's compare passed
            # (hash for oracle-backed rows, rows-only otherwise)
            ok = row.get("rows_match") and (
                row.get("hash_match") is not False
            ) and (row.get("schema_match") is not False)
            if ok:
                last[name] = max(last.get(name, 0), n)
    return last


def check_policy(
    current_round: int,
    export: set[str],
    rotate_in: set[str],
    next_ledger: set[str] | None,
    registered: set[str] | None,
    retired: set[str] = frozenset(),
) -> list[str]:
    """Return policy violations (empty == compliant).

    ``retired`` (r13+): rows demoted out of the rotation pool — they
    stay registered and parity-verified per pytest run but carry no
    driver-staleness obligation. Retro audits of rounds before the
    retirement pass the then-empty set.
    """
    errs: list[str] = []
    if len(export) > DRIVER_BUDGET:
        errs.append(f"export over budget: {len(export)} > {DRIVER_BUDGET}")
    last = correctness_history(current_round - 1)

    # 1. rotate-ins mandatory
    for q in sorted(rotate_in - export):
        errs.append(f"rotate-in not exported: {q}")

    # 2. never-checked rows accounted (skippable for retro audits where
    #    the then-registered set can't be reconstructed)
    if registered is not None:
        never = registered - set(last) - retired
        pool = export | (next_ledger or set())
        for q in sorted(never - pool):
            errs.append(f"never-checked and unledgered: {q}")

    # 3. staleness window over every row ever driver-checked
    for q, n in sorted(last.items()):
        if registered is not None and q not in registered:
            continue  # renamed/deregistered rows
        if q in retired:
            continue  # demoted out of the pool (parity-only)
        if q in export or n > current_round - 3:
            continue
        if q in TRIVIAL_SLIPS:
            if n <= current_round - 5:
                errs.append(f"trivial slipped past 4-round window: {q} (r{n})")
        elif q in FAMILY_GUARD_SLIPS:
            if n <= current_round - 4:
                errs.append(f"guarded slip past one extra round: {q} (r{n})")
            elif FAMILY_GUARD_SLIPS[q] not in export:
                errs.append(f"slipped without exported guard: {q}")
        else:
            errs.append(f"stale beyond window, not a slip class: {q} (r{n})")
    return errs


def test_r18_export_satisfies_rotation_policy():
    registered = set(all_queries())
    errs = check_policy(
        current_round=18,
        export=R18_EXPORT,
        rotate_in=R18_ROTATE_IN,
        next_ledger=R19_ROTATE_IN,
        registered=registered,
        retired=set(RETIRED_FROM_ROTATION),
    )
    assert not errs, "\n".join(errs)


def test_r18_export_needs_zero_slips():
    """The r18 export, computed against the REAL CORRECTNESS_r17 file,
    satisfies the policy with NO slip class invoked — every
    stale-or-rotate-in obligation is exported outright (the r17
    resets + pull-forwards cut the r18 window-hard block to 46)."""
    registered = set(all_queries())
    last = correctness_history(17)
    retired = set(RETIRED_FROM_ROTATION)
    mandatory = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 18 - 3
    } | R18_ROTATE_IN
    assert mandatory <= R18_EXPORT, sorted(mandatory - R18_EXPORT)


def test_r18_export_carries_bm25_regreens():
    """The five non-retired bm25 serve rows are r18-exported: the r18
    persisted per-term df statistic changed the serve/append/fold
    internals (results provably unchanged — shared recompute oracles),
    and fresh driver rows pin that (registry ledger, r18 entry;
    VERDICT r17 Next #3)."""
    for q in (
        "text_bm25_topk_indexed",
        "text_bm25_topk_incremental",
        "text_bm25_topk_updated",
        "text_bm25_topk_deleted_served",
        "text_index_ingest_streaming",
    ):
        assert q in R18_EXPORT, q


def test_r19_rotation_fits_budget():
    """The R19 draft arithmetic (registry ledger): assuming r18 goes
    green on R18_EXPORT, the r19 mandatory set — rows last driver-green
    in r16 or earlier that stay in the pool, plus any r18-born
    rotate-ins — fits the 50-row budget with >= 3 spare slots. Every
    r18 birth must take a spare slot (add it to R19_ROTATE_IN when
    born) or pair with a retirement."""
    registered = set(all_queries())
    retired = set(RETIRED_FROM_ROTATION)
    last = correctness_history(17)
    for q in R18_EXPORT:
        last[q] = 18  # simulated green r18
    stale = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 19 - 3
    }
    mandatory = stale | R19_ROTATE_IN
    assert len(stale) <= DRIVER_BUDGET - 3, sorted(stale)
    assert len(mandatory) <= DRIVER_BUDGET, sorted(mandatory)


def test_r17_export_satisfies_rotation_policy():
    registered = set(all_queries())
    errs = check_policy(
        current_round=17,
        export=R17_EXPORT,
        rotate_in=R17_ROTATE_IN,
        next_ledger=R18_ROTATE_IN,
        registered=registered,
        retired=set(RETIRED_FROM_ROTATION),
    )
    assert not errs, "\n".join(errs)


def test_r17_export_needs_zero_slips():
    """The r17 export, computed against the REAL CORRECTNESS_r16 file,
    satisfies the policy with NO slip class invoked — every
    stale-or-rotate-in obligation is exported outright (the r16
    pull-forwards cut the r17 window-hard block to 41 rows)."""
    registered = set(all_queries())
    last = correctness_history(16)
    retired = set(RETIRED_FROM_ROTATION)
    mandatory = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 17 - 3
    } | R17_ROTATE_IN
    assert mandatory <= R17_EXPORT, sorted(mandatory - R17_EXPORT)


def test_r17_export_carries_evidence_resets():
    """The five rows whose semantics r17's trained-coarse wiring
    changes — the plain-IVF family now assigns and probes Lloyd-trained
    cells (registry ledger, r17 entry) — are re-exported even though
    their r15/r16 rows were green: prior hashes evidence the retired
    label-mean semantics."""
    for q in (
        "ann_ivf_multiprobe",
        "ann_ivf_multiprobe_deleted",
        "ann_incremental_assign",
        "ann_centroids",
        "ann_recall_eval",
    ):
        assert q in R17_EXPORT, q


def test_r16_export_satisfied_rotation_policy_retroactively():
    registered = set(all_queries()) - R18_ROTATE_IN
    errs = check_policy(
        current_round=16,
        export=R16_EXPORT,
        rotate_in=R16_ROTATE_IN,
        next_ledger=R17_ROTATE_IN,
        registered=registered,
        retired=set(RETIRED_FROM_ROTATION),
    )
    assert not errs, "\n".join(errs)


def test_r16_export_needs_zero_slips():
    """The r16 export, computed against the REAL CORRECTNESS_r15 file,
    satisfies the policy with NO slip class invoked — every
    stale-or-rotate-in obligation is exported outright (the r16
    retirement paid for the evidence reset and the 4 pull-forwards)."""
    registered = set(all_queries())
    last = correctness_history(15)
    retired = set(RETIRED_FROM_ROTATION)
    mandatory = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 16 - 3
    } | R16_ROTATE_IN
    assert mandatory <= R16_EXPORT, sorted(mandatory - R16_EXPORT)


def test_r16_export_carries_evidence_reset():
    """The inline IVFPQ twin — whose coarse quantizer r16 Lloyd-trains,
    changing every row of both IVFPQ serves — is re-exported even
    though its r14 row was green: prior hashes evidence the retired
    label-cell semantics (registry ledger, r16 entry). The indexed twin
    is the r16 rotate-in, so both trained-cell serves get fresh driver
    rows this round."""
    assert "ann_ivfpq_topk" in R16_EXPORT
    assert "ann_ivfpq_indexed" in R16_EXPORT


def test_r15_export_satisfied_rotation_policy_retroactively():
    registered = set(all_queries()) - R17_ROTATE_IN
    errs = check_policy(
        current_round=15,
        export=R15_EXPORT,
        rotate_in=R15_ROTATE_IN,
        next_ledger=R16_ROTATE_IN,
        registered=registered,
        retired=R15_ERA_RETIRED,
    )
    assert not errs, "\n".join(errs)


def test_r15_export_needs_zero_slips():
    """The r15 export, computed against the REAL CORRECTNESS_r14 file,
    satisfies the policy with NO slip class invoked — every
    stale-or-rotate-in obligation is exported outright (the r15
    retirement, not a slip, paid for the evidence-reset rows)."""
    registered = set(all_queries())
    last = correctness_history(14)
    retired = R15_ERA_RETIRED
    mandatory = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 15 - 3
    } | R15_ROTATE_IN
    assert mandatory <= R15_EXPORT, sorted(mandatory - R15_EXPORT)


def test_r15_export_carries_evidence_resets():
    """The four rows whose semantics r15's work changes (q9/q22
    constant retune, PQ Lloyd codebooks) are re-exported even though
    their r14 rows were green — prior hashes no longer evidence the
    current query (registry ledger, r15 entry)."""
    for q in (
        "q9_product_profit",
        "q22_dormant_customers",
        "ann_pq_adc_topk",
        "ann_pq_recall_eval",
    ):
        assert q in R15_EXPORT, q


def test_r14_export_satisfied_rotation_policy_retroactively():
    """The retired r14 export stays compliant against the r1–r13
    history, audited with the r13-era retired set (a later retirement
    must not mask an obligation that existed at r14)."""
    registered = set(all_queries()) - R16_ROTATE_IN - R17_ROTATE_IN
    errs = check_policy(
        current_round=14,
        export=R14_EXPORT,
        rotate_in=R14_ROTATE_IN,
        next_ledger=R15_ROTATE_IN,
        registered=registered,
        retired=R13_ERA_RETIRED,
    )
    assert not errs, "\n".join(errs)


def test_r13_export_satisfied_rotation_policy_retroactively():
    """The retired r13 export stays compliant against the r1–r12
    history (rows born in r14 — the R15 ledger — had no r13
    obligation)."""
    registered = (
        set(all_queries()) - R15_ROTATE_IN - R16_ROTATE_IN - R17_ROTATE_IN
    )
    errs = check_policy(
        current_round=13,
        export=R13_EXPORT,
        rotate_in=R13_ROTATE_IN,
        next_ledger=R14_ROTATE_IN,
        registered=registered,
        retired=R13_ERA_RETIRED,
    )
    assert not errs, "\n".join(errs)


def test_retirement_invariants():
    """Every retired row keeps a live same-module guard in the rotation
    pool, stays registered (the parity replica re-verifies it per pytest
    run), has prior driver-green history (never-checked rows cannot
    retire), and the post-retirement pool fits a <= 3-round cycle."""
    qs = all_queries()
    registered = set(qs)
    retired = set(RETIRED_FROM_ROTATION)
    last = correctness_history(15)
    assert retired <= registered, sorted(retired - registered)
    assert retired <= set(last), sorted(retired - set(last))
    assert not retired & R16_EXPORT
    for row, guard in RETIRED_FROM_ROTATION.items():
        assert guard in registered and guard not in retired, (row, guard)
        assert qs[guard].fn.__module__ == qs[row].fn.__module__, (row, guard)
        # every retired row stays oracle-backed — the parity replica's
        # hash compare (not a weaker rows-only check) is what replaces
        # its driver slot
        assert qs[row].oracle is not None, row
    pool = registered - retired
    # the structural bound is a <= 3-round full cycle; r15 additionally
    # bought >= 3 slots of per-round slack (VERDICT r14 Next #4)
    assert len(pool) <= 3 * DRIVER_BUDGET, len(pool)
    assert len(pool) <= 145, len(pool)


def test_r16_rotation_fits_budget():
    """The R16 draft arithmetic (registry ledger): assuming r15 goes
    green on R15_EXPORT, the r16 mandatory set — rows last driver-green
    in r13 or earlier that stay in the pool, plus the r15-born
    rotate-ins — fits the 50-row budget with >= 3 spare slots. Every
    r15 birth must either take a spare slot (add it to R16_ROTATE_IN
    when born) or pair with a retirement; this test is the machine
    check on that budget."""
    registered = set(all_queries())
    retired = set(RETIRED_FROM_ROTATION)
    last = correctness_history(14)
    for q in R15_EXPORT:
        last[q] = 15  # simulated green r15
    stale = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 16 - 3
    }
    mandatory = stale | R16_ROTATE_IN
    # two separate claims (r15 review finding 2): the STALE block alone
    # leaves >= 3 spare slots (the headroom the r15 retirement bought),
    # and the full mandatory set — births included, which the spare
    # slots exist to absorb — still fits the budget.
    assert len(stale) <= DRIVER_BUDGET - 3, sorted(stale)
    assert len(mandatory) <= DRIVER_BUDGET, sorted(mandatory)


def test_r18_rotation_fits_budget():
    """The R18 draft arithmetic: assuming r17 goes green on R17_EXPORT,
    the r18 mandatory set — rows last driver-green in r15 or earlier
    that stay in the pool, plus any r17-born rotate-ins — fits the
    50-row budget with >= 3 spare slots (the r17 resets + 3
    pull-forwards cut the otherwise-50-row r15-green block to 46).
    Every r17 birth must take a spare slot (add it to R18_ROTATE_IN
    when born) or pair with a retirement."""
    registered = set(all_queries())
    retired = set(RETIRED_FROM_ROTATION)
    last = correctness_history(16)
    for q in R17_EXPORT:
        last[q] = 17  # simulated green r17
    stale = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 18 - 3
    }
    mandatory = stale | R18_ROTATE_IN
    assert len(stale) <= DRIVER_BUDGET - 3, sorted(stale)
    assert len(mandatory) <= DRIVER_BUDGET, sorted(mandatory)


def test_r17_rotation_fits_budget():
    """The R17 draft arithmetic (registry ledger): assuming r16 goes
    green on R16_EXPORT, the r17 mandatory set — rows last driver-green
    in r14 or earlier that stay in the pool, plus the r16-born
    rotate-ins — fits the 50-row budget with >= 3 spare slots (the r16
    evidence reset + 4 pull-forwards bought the r17 window down from 46
    rows to 41). Every r16 birth must take a spare slot (add it to
    R17_ROTATE_IN when born) or pair with a retirement."""
    registered = set(all_queries())
    retired = set(RETIRED_FROM_ROTATION)
    last = correctness_history(15)
    for q in R16_EXPORT:
        last[q] = 16  # simulated green r16
    stale = {
        q
        for q, n in last.items()
        if q in registered and q not in retired and n <= 17 - 3
    }
    mandatory = stale | R17_ROTATE_IN
    assert len(stale) <= DRIVER_BUDGET - 3, sorted(stale)
    assert len(mandatory) <= DRIVER_BUDGET, sorted(mandatory)


def test_r12_export_satisfied_rotation_policy_retroactively():
    """The retired r12 export stays compliant against the r1–r11
    history. Rows born after r12 (the R14/R15 ledgers) and the r13
    retirement had no r12 obligation, so the audit runs with the
    then-empty retired set and the then-known registered pool."""
    registered = (
        set(all_queries())
        - R14_ROTATE_IN
        - R15_ROTATE_IN
        - R16_ROTATE_IN
        - R17_ROTATE_IN
    )
    errs = check_policy(
        current_round=12,
        export=R12_EXPORT,
        rotate_in=R12_ROTATE_IN,
        next_ledger=R13_ROTATE_IN,
        registered=registered,
    )
    assert not errs, "\n".join(errs)


def test_r11_export_satisfied_rotation_policy_retroactively():
    """The retired r11 export stays compliant against the r1–r10
    history (rows born after r11 had no r11 obligation, so the
    never-checked clause is confined to the then-known ledger)."""
    registered = (
        set(all_queries())
        - R12_ROTATE_IN
        - R13_ROTATE_IN
        - R14_ROTATE_IN
        - R15_ROTATE_IN
        - R16_ROTATE_IN
        - R17_ROTATE_IN
    )
    errs = check_policy(
        current_round=11,
        export=R11_EXPORT,
        rotate_in=R11_ROTATE_IN,
        next_ledger=R12_ROTATE_IN,
        registered=registered,
    )
    assert not errs, "\n".join(errs)


def test_r10_export_satisfied_rotation_policy_retroactively():
    """The checker agrees with the judge's by-hand r10 audit. The
    then-registered set can't be reconstructed (r10-born rows now
    registered had no r10 obligation), so the never-checked clause is
    skipped and staleness is confined to rows checked by r9."""
    errs = check_policy(
        current_round=10,
        export=R10_EXPORT,
        rotate_in=R10_ROTATE_IN,
        next_ledger=None,
        registered=None,
    )
    assert not errs, "\n".join(errs)


def test_policy_rejects_hand_broken_export():
    """Dropping a mandatory rotate-in or a stale non-slip row from the
    export must be flagged (VERDICT r10 Next #3's 'would fail' leg)."""
    registered = set(all_queries())
    # drop a rotate-in
    broken = R11_EXPORT - {"ann_filtered_indexed"}
    errs = check_policy(11, broken, R11_ROTATE_IN, R12_ROTATE_IN, registered)
    assert any("rotate-in not exported: ann_filtered_indexed" in e for e in errs)
    # drop a stale mandatory row (not in any slip class)
    broken = R11_EXPORT - {"q7_volume_shipping"}
    errs = check_policy(11, broken, R11_ROTATE_IN, R12_ROTATE_IN, registered)
    assert any(
        "stale beyond window, not a slip class: q7_volume_shipping" in e
        for e in errs
    )
    # drop a guard while its slip stays demoted
    broken = (R11_EXPORT - {"dedup_ngram_jaccard"}) | {"dedup_cluster_sizes"}
    errs = check_policy(11, broken, R11_ROTATE_IN, R12_ROTATE_IN, registered)
    assert errs  # the guard row is itself stale-mandatory


def test_trivial_slips_become_hard_at_r12():
    """The 7 twice-slipped trivials hit the 4-round hard window at r12:
    an r12 export without them must be rejected. (Encodes the R12 draft's
    'mandatory, no further slip' clause so next round's rotation cannot
    silently slip them a third time.)"""
    registered = set(all_queries())
    r12_export_without_trivials = R11_EXPORT  # any set missing the trivials
    errs = check_policy(
        12, r12_export_without_trivials, R12_ROTATE_IN, None, registered
    )
    for q in sorted(TRIVIAL_SLIPS):
        assert any(q in e and "4-round window" in e for e in errs), q


@pytest.mark.parametrize("q", sorted(FAMILY_GUARD_SLIPS))
def test_guard_rows_share_operator_family(q):
    """Each documented guard actually exercises the slipped row's family
    (same registered module of origin)."""
    qs = all_queries()
    guard = FAMILY_GUARD_SLIPS[q]
    assert q in qs and guard in qs
    assert qs[guard].fn.__module__ == qs[q].fn.__module__, (
        q, qs[q].fn.__module__, guard, qs[guard].fn.__module__,
    )
