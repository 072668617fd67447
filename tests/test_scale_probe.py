"""Empirical scale-up probe (r13 verdict Next #6): derive a 10x
key-shifted copy of the smoke dir (dbt_on_snowflake_spark/scale.py —
the same derivation scale_probe.py runs at sf0.1) and pin that the
five probe headliners (a) keep their sf-pinned shuffle budgets at 10x
(no broadcast flip on fixed dims, no plan degeneration), and (b) scale
their OUTPUT linearly where the derivation guarantees it — exactly
factor x the base rows for the FK-consistent join/agg queries and the
cross-copy-decorrelated LSH pairs. (b) is also the correctness proof
of the derivation itself: a key-shift bug (double-counted joins, a
text remap that leaks near-dups across copies) breaks the exact
factor-x equality before it distorts any timing."""

from __future__ import annotations

import pytest

from dbt_on_snowflake_spark.plans import count_shuffles, explain_str
from dbt_on_snowflake_spark.registry import all_queries
from dbt_on_snowflake_spark.scale import derive_scaled_dir
from scale_probe import PROBE_QUERIES
from tests.conftest import SF_SMOKE, spark_jobs
from tests.test_plans import _HEADLINE_MAX_SHUFFLES

FACTOR = 10

Q = all_queries()

# Shuffle budgets for the NON-headline probe queries (r18, VERDICT r17
# Next #6 — the r17 lineage-cut paths join the probe): headline budgets
# live in tests/test_plans.py (_HEADLINE_MAX_SHUFFLES is asserted to
# cover exactly the headline set, so these two cannot go there).
# Measured at sf0.001 on the r18 tree:
# - dedup_incremental_index: 3 — the batch band-keys groupBy, the
#   batch-vs-index probe's bounded exchange, and the verify tail's
#   candidate groupBy; all O(|batch|) after the r17 localCheckpoint
#   cuts (the index side is the zero-shuffle bucketed read, pinned by
#   test_incremental_index_probe_no_index_shuffle).
# - retrieval_hybrid_rrf_perquery_indexed: 7 — the per-query lexical
#   window + rank exchanges over the pruned postings matches and the
#   bounded dense-half rank/fusion exchanges; every one is keyed by
#   query_id or bounded by TERMS_PER_QUERY x |Q| (the r17 #8b shape).
_PROBE_EXTRA_MAX_SHUFFLES = {
    "dedup_incremental_index": 3,
    "retrieval_hybrid_rrf_perquery_indexed": 7,
}


@pytest.fixture(scope="module")
def scaled_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scale10") / "sf10x")
    yield derive_scaled_dir(spark, SF_SMOKE, out, factor=FACTOR)
    # several tests here run ann_ivfpq_indexed against this throwaway
    # corpus, ensure-building a persisted IVFPQ family keyed on it —
    # drop it so later reindex-sweep tests never gate a family whose
    # corpus is a deleted pytest tmp dir (r16 review finding 2)
    from scale_probe import drop_ivfpq_family

    drop_ivfpq_family(spark, out)


@pytest.mark.parametrize("name", PROBE_QUERIES)
def test_scaled_plan_keeps_pinned_shuffle_budget(spark, scaled_dir, name):
    """The sf0.1 headline shuffle pins must hold verbatim on the 10x
    dir: an extra exchange here is the 100x warning the probe exists
    to raise (e.g. a fixed dim falling out of broadcast)."""
    plan = explain_str(Q[name].fn(spark, scaled_dir))
    n = count_shuffles(plan)
    bound = {**_HEADLINE_MAX_SHUFFLES, **_PROBE_EXTRA_MAX_SHUFFLES}[name]
    assert n <= bound, (
        f"{name}@10x: {n} shuffles (sf pin {bound}) — the plan "
        "degenerated under scale-up"
    )


def _rows(spark, name, d):
    return Q[name].fn(spark, d).count()


@pytest.mark.parametrize(
    "name", ["j1_orders_denorm", "a1_loyalty_metrics"]
)
def test_scaled_output_is_exactly_factor_x(spark, scaled_dir, name):
    """Exact factor-x output: j1 proves end-to-end FK consistency of
    the shifted copies (inner joins on orderkey/custkey/partkey can
    only hit within a copy), a1 proves the per-customer rollup sees
    each copy's customers once."""
    assert _rows(spark, name, scaled_dir) == FACTOR * _rows(
        spark, name, SF_SMOKE
    )


def test_scaled_lsh_pairs_stay_within_copies(spark, scaled_dir):
    """The LSH probe's derivation invariants. Deterministic claims:
    (1) ZERO cross-copy pairs — the per-copy character remap
    decorrelates copies, so a 10x corpus is 10 independent corpora,
    not one 10-way near-dup cluster; (2) copy 0 is the identity remap,
    so its pairs are EXACTLY the base dir's (shifted by 0). The other
    copies re-hash every shingle, so banded candidate recall varies
    per copy (true near-dups missed in one copy can be caught in
    another) — total pairs land NEAR factor x base, not exactly on it;
    pin each copy's count to a +-30% band of the base count."""
    from pyspark.sql import functions as F

    base_pairs = Q["dedup_minhash_lsh"].fn(spark, SF_SMOKE)
    scaled = Q["dedup_minhash_lsh"].fn(spark, scaled_dir)
    off = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .agg(F.max("doc_id"))
        .collect()[0][0]
        + 1
    )
    copy_a = (F.col("doc_a") / off).cast("long")
    copy_b = (F.col("doc_b") / off).cast("long")
    assert scaled.filter(copy_a != copy_b).count() == 0, (
        "cross-copy near-dup pairs: the per-copy remap leaked overlap"
    )
    base_rows = sorted(map(tuple, base_pairs.collect()))
    copy0 = sorted(
        map(tuple, scaled.filter((copy_a == 0) & (copy_b == 0)).collect())
    )
    assert copy0 == base_rows
    n_base = len(base_rows)
    per_copy = (
        scaled.groupBy(copy_a.alias("c")).count().collect()
    )
    assert len(per_copy) == FACTOR  # every copy found near-dups
    for r in per_copy:
        assert 0.7 * n_base <= r["count"] <= 1.3 * n_base, (
            f"copy {r['c']}: {r['count']} pairs vs base {n_base}"
        )


def test_scaled_topk_serves_run_with_bounded_output(spark, scaled_dir):
    """The index serves' output is bounded by construction — k rows
    per query — at ANY corpus scale: pin that both build+serve
    end-to-end on the 10x dir with exactly that shape. (The query-side
    row count itself is capped by _QUERY_PRED's MAX_QUERIES bound; at
    smoke scale the cap isn't saturated, so the scaled dir legitimately
    serves more queries — the invariant is k rows per query, not a
    fixed total.)"""
    from pyspark.sql import functions as F

    from dbt_on_snowflake_spark.operators.similarity import (
        _QUERY_PRED,
        TOP_K,
        _vectors,
    )

    n_q = _vectors(spark, scaled_dir).filter(F.expr(_QUERY_PRED)).count()
    assert _rows(spark, "ann_pq_adc_topk", scaled_dir) == n_q * TOP_K

    base_n = _rows(spark, "text_bm25_topk_indexed", SF_SMOKE)
    assert _rows(spark, "text_bm25_topk_indexed", scaled_dir) == base_n


@pytest.mark.parametrize("name", sorted(__import__("scale_probe").PROBE_BUILDERS))
def test_scaled_builders_keep_stage_counts(spark, scaled_dir, name):
    """Index BUILDS probed at 10x (r14 verdict Next #6): build is where
    a 100 TB deployment actually spends its shuffles — the token
    explode + (term, doc) groupBy, the bucketed band-index write, the
    label-partitioned assignment/codes writes. Pin that each builder's
    SHUFFLE DEPTH holds exactly at 10x: a broadcast flip, an extra
    exchange before a write, or a plan degeneration under the bigger
    input shows up here before it shows up as a wall-time cliff at the
    next decade. Pinned as (total stages - total jobs) — the number of
    stage BOUNDARIES, i.e. exchanges — because the raw job count
    legitimately grows with the file count: a 10x dir crosses Spark's
    parallel-partition-discovery threshold and adds 1-stage
    file-LISTING jobs, which are scan bookkeeping, not plan shape."""
    from scale_probe import _drop_all, run_builder

    depth = {}
    for tag, d in (("base", SF_SMOKE), ("scaled", scaled_dir)):
        with spark_jobs(spark) as seen:
            made = run_builder(spark, name, d, f"t{tag}")
        depth[tag] = len(seen.stages) - len(seen.jobs)
        _drop_all(spark, made)
    assert depth["scaled"] == depth["base"], (
        f"{name}: build shuffle depth drifted at 10x — {depth}"
    )


def test_scaled_ivfpq_serve_stays_pruned(spark, scaled_dir):
    """The persisted IVFPQ serve's SUBLINEARITY, made quantitative at
    10x (r15 verdict Next #4): (a) the trained cell count is
    corpus-size INDEPENDENT (K = |labels| + COARSE_EXTRA — training is
    sample-bounded), so the partition layout the prune runs against
    does not degrade with scale; (b) PER QUERY, the codes-row fraction
    its nprobe cells hold stays bounded far from a full scan at BOTH
    scales — the per-query cost O(nprobe/cells) is the serve's scaling
    claim (the scan-level partition filter is the UNION across the
    query batch, which on this isotropic corpus legitimately saturates
    as queries spread over cells; scale_probe.py records both)."""
    from dbt_on_snowflake_spark.operators.similarity import (
        COARSE_EXTRA,
        PQ_TRAIN_CAP,
        _vectors,
        ensure_ivfpq_index,
    )
    from scale_probe import ivfpq_read_fractions

    for tag, d in (("base", SF_SMOKE), ("scaled", scaled_dir)):
        cells_t, _, cd_t = ensure_ivfpq_index(spark, d)
        # K = |labels in the BOUNDED training sample| + COARSE_EXTRA:
        # at 10x the cap binds (the sample stays the lowest-vec_id
        # PQ_TRAIN_CAP prefix), so the cell count is corpus-size
        # independent by construction — it tracks the sample's label
        # diversity, never the corpus row count
        n_samp_labels = (
            _vectors(spark, d)
            .orderBy("vec_id")
            .limit(PQ_TRAIN_CAP)
            .select("label")
            .distinct()
            .count()
        )
        # the probe's OWN measurement (shared helper — the shipped
        # ivfpq_prune record and this pin cannot diverge)
        m = ivfpq_read_fractions(spark, cells_t, cd_t, d)
        assert m["cells_total"] == n_samp_labels + COARSE_EXTRA, (
            tag, m["cells_total"],
        )
        assert m["per_query_read_fracs"], tag
        worst = max(m["per_query_read_fracs"])
        # every query's nprobe cells hold well under half the codes —
        # the per-query read is a genuine prune, not a rescan
        assert worst < 0.5, (tag, worst)


def test_scaled_ivfpq_append_is_batch_bound(spark, scaled_dir):
    """The IVFPQ ingest path's O(|batch|) claim, pinned structurally at
    10x (r17, VERDICT r16 Next #4; the wall-clock leg ships in the
    probe's ivfpq_append record): via the probe's OWN helper —
    (a) the FIXED batch predicate selects the identical rows at both
    scales (the derivation shifts copy ids past the base range);
    (b) the append keeps the SAME shuffle depth (stages - jobs, the
    builders-pin metric — raw job counts grow with file-listing
    bookkeeping) at 10x: its plan touches the batch and the bounded
    frozen quantizers, never the corpus, so scale cannot add an
    exchange; (c) the grown family's per-query read fraction stays a
    genuine prune after the append."""
    from scale_probe import append_batch_pred, ivfpq_append_measure

    pred = append_batch_pred(spark, SF_SMOKE)
    m = {
        tag: ivfpq_append_measure(spark, d, f"t10_{tag}", pred, rounds=1)
        for tag, d in (("base", SF_SMOKE), ("scaled", scaled_dir))
    }
    assert m["base"]["batch_rows"] == m["scaled"]["batch_rows"] > 0
    assert m["base"]["shuffle_depth"] == m["scaled"]["shuffle_depth"], (
        m["base"], m["scaled"],
    )
    for tag in ("base", "scaled"):
        fr = m[tag]["grown_serve"]["mean_query_read_frac"]
        assert fr is not None and fr < 0.5, (tag, fr)


def test_scaled_event_density_keeps_group_count(spark, scaled_dir):
    """The derived events table is 10x DENSITY over the SAME time
    window (timestamps untouched), so the hourly bucketing headliner
    keeps its group count exactly while each group's volume grows —
    the shape a real traffic scale-up has, and the property that keeps
    time-bucketed aggregate state bounded at any corpus size."""
    assert _rows(spark, "t_events_hourly", scaled_dir) == _rows(
        spark, "t_events_hourly", SF_SMOKE
    )
