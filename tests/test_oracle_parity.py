"""Every registered query with an oracle must hash-match DuckDB — this is a
local replica of the driver's correctness gate (sf0.001 for speed; the
driver runs sf0.01).

By default the replica runs a bounded parametrization: every query the
driver exports this round (``registry.driver_queries``, derived from the
committed CORRECTNESS history), the ``ALWAYS_RUN`` vector rows, and a
sample of the rest seeded by the export round ``N = max(history) + 1``,
so successive rounds verify different extra slices. Round N-1's slice
(the rows of the newest CORRECTNESS file and its sample) stays in for
one more round, so each slice is verified on two consecutive rounds. Set
``SPARK_GRAFT_FULL_PARITY=1`` for the full 175-query replica. The
non-parametrized harness tests below always run."""

from __future__ import annotations

import hashlib
import os

import pytest

from dbt_on_snowflake_spark.registry import (
    all_queries,
    correctness_history,
    driver_export,
    driver_queries,
)
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare

_QUERIES = all_queries()

FULL_PARITY = os.environ.get("SPARK_GRAFT_FULL_PARITY") == "1"
# sized so the default suite fits the driver's verify window with the
# machine's documented 1.3-1.4x wall swings as margin (timings in
# OPTIMIZATION_r18.md); the full registry cycles through the samples in
# ~3 rounds on top of the per-round 50-row driver export
PARITY_SAMPLE = 40
# Every vector operator has exactly one evaluator (the Arrow/numpy
# kernel) and the DuckDB oracle is its only reference, so these rows run
# on every default pass whatever the export and the sample hold.
ALWAYS_RUN = {
    "ann_topk_bruteforce",
    "ann_ivf_topk",
    "ann_ivf_multiprobe",
    "ann_ivf_multiprobe_indexed",
    "ann_hard_negatives",
    "ann_filtered_topk",
    "ann_filtered_indexed",
    "ann_filtered_rerank_indexed",
    "ann_incremental_assign",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "dedup_semantic_served",
    "ann_pq_codes",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_indexed",
}


def _round_slice(round_: int, exported: set[str]) -> set[str]:
    """A round's export plus ``PARITY_SAMPLE`` of the rest, seeded by it."""
    ranked = sorted(
        set(_QUERIES) - exported,
        key=lambda n: hashlib.md5(f"r{round_}:{n}".encode()).hexdigest(),
    )
    return exported | set(ranked[:PARITY_SAMPLE])


def _parity_names() -> list[str]:
    if FULL_PARITY:
        return sorted(_QUERIES)
    history = correctness_history()
    export_round = max(history, default=0) + 1
    names = ALWAYS_RUN | _round_slice(
        export_round, driver_export(history, _QUERIES)
    )
    if history:
        # the last round's slice stays one more round; its export is the
        # key set of the newest CORRECTNESS file
        last = export_round - 1
        names |= _round_slice(last, set(history[last]) & set(_QUERIES))
    return sorted(names)

# Queries whose BroadcastNestedLoopJoin is a BOUNDED broadcast side by
# construction (a 1-row collapsed vocabulary, a capped query-vector set,
# a tiny rate/centroid table, a bounded pair block) — safe at any corpus
# size. Everything else must stay equi-join/hash-join shaped: an
# accidental NLJ or cartesian on an SF-growing side is the classic
# silent 100x scale-killer, so it fails here the day it appears.
_BNLJ_OK = {
    "ann_incremental_assign",
    "ann_ivf_multiprobe",
    "ann_ivf_multiprobe_indexed",
    "ann_topk_bruteforce",
    "corpus_mixture_sample",
    "corpus_mixture_sample_bpe",
    "corpus_temperature_sample",  # 1-row weight-total broadcast
    "text_bigram_coverage",
    "text_levenshtein_pairs",
    "q22_dormant_customers",  # 1-row scalar balance-threshold broadcast
    "q11_important_suppliers",  # 1-row global-total-value broadcast
    "ann_recall_eval",  # composes ann_topk_bruteforce's capped query side
    "ann_pq_codes",  # 1-row collapsed codebook broadcast
    "ann_pq_adc_topk",  # 1-row codebook + capped query-LUT broadcast
    "ann_hard_negatives",  # same capped query side as ann_topk_bruteforce
    "ann_pq_recall_eval",  # composes two capped-broadcast retrievals
    "ann_ivfpq_topk",  # 1-row codebook + capped probe/LUT broadcasts
    "ann_ivfpq_indexed",  # persisted twin: tiny centroid table + the
    # same capped probe/LUT sides; the codes scan is partition-pruned
    "ann_pq_adc_indexed",  # persisted-codes twin of ann_pq_adc_topk
    "ann_pq_adc_appended",  # same ADC serve over the append-grown codes
    "multimodal_embed_topk_indexed",  # bounded mm-query LUT + codebook sides
    "ann_pq_adc_ingest_streaming",  # stream-grown twin of ann_pq_adc_appended
    "ann_pq_rerank_topk",  # stage 1 is ann_pq_adc_topk's capped broadcasts
    "text_bm25_topk",  # 1-row corpus-stats (N/avgdl/df) broadcast
    "retrieval_hybrid_rrf",  # 1-row query-vector + bm25-stats broadcasts
    "ann_pq_rerank_indexed",  # persisted-index twin of ann_pq_rerank_topk
    "text_bm25_topk_indexed",  # 1-row persisted-stats x pruned-df broadcast
    "retrieval_hybrid_rrf_indexed",  # same 1-row stats + query-vector sides
    "retrieval_hybrid_rrf_perquery",  # 1-row global-stats broadcast
    "retrieval_hybrid_rrf_perquery_indexed",  # 1-row persisted-stats side
    "text_bm25_topk_incremental",  # 1-row refreshed-stats x pruned-df side
    "text_index_ingest_streaming",  # same indexed-serve 1-row stats side
    "ann_filtered_rerank_indexed",  # 1-row codebook + capped query-LUT side
    "text_bm25_topk_deleted",  # 1-row live-stats x pruned-df broadcast
    "text_bm25_topk_deleted_served",  # steady-state twin, same 1-row sides
    "text_bm25_topk_updated",  # same 1-row stats x pruned-df sides
    "ann_pq_adc_deleted",  # gated-codes twin of ann_pq_adc_topk
    "ann_pq_adc_appended_served",  # steady-state twin, same 1-row sides
    "multimodal_embed_topk_deleted",  # gated-codes twin of the mm indexed serve
}


def _assert_scale_safe_joins(name: str, df) -> None:
    from dbt_on_snowflake_spark.plans import explain_str

    plan = explain_str(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join — if the broadcast side "
            "is bounded by construction, add it to _BNLJ_OK with a reason"
        )


# Queries allowed to return ZERO rows at SF_SMOKE. An empty result
# hash-matches trivially — it proves only empty-set agreement, which is
# how q9/q22 sat "green" for seven rounds while their joins were never
# value-exercised (VERDICT r14 Next #3). Every other query must produce
# rows; additions here need a written reason.
_EMPTY_OK = {
    # RI anti-join over FK-consistent testdata: zero orphans IS the
    # expected semantics (a passing relationships test). The anti-join
    # finding real orphans on corrupted input is separately proven by
    # tests/test_engine.py::test_builtin_generic_tests (count == 3).
    "j7_anti_orphans",
    # nonzero where the driver checks it (8 rows at sf0.01,
    # CORRECTNESS_r14) — the high-revenue shipping filter just selects
    # nothing from the 60x smaller sf0.001 sample.
    "q7_volume_shipping",
}


@pytest.mark.parametrize("name", _parity_names())
def test_oracle_parity(spark, name):
    q = _QUERIES[name]
    df = q.fn(spark, SF_SMOKE)
    _assert_scale_safe_joins(name, df)
    if q.oracle is None:
        assert df.columns  # rows-only check: runs and has a stable schema
        n = df.count()
    else:
        n = compare(spark, name, lambda *_: df, q.oracle, SF_SMOKE)
    if name not in _EMPTY_OK:
        assert n > 0, (
            f"{name}: empty result at SF_SMOKE — the hash proves only "
            "empty-set agreement; retune the query's constants to this "
            "testdata or allowlist it in _EMPTY_OK with a reason"
        )


def test_arrow_dtype_tagging_catches_uncast_hugeint(spark):
    """The hardened harness must fail an oracle whose windowed SUM leaks
    DuckDB HUGEINT (Arrow decimal128) against a Spark BIGINT — the exact
    class that shipped round 6's one red driver row. Prove it catches the
    class (uncast fails), then that the BIGINT-cast twin passes."""
    import pytest as _pytest

    def fn(spark, sf_dir):
        return spark.createDataFrame([(1, 3), (2, 3)], "x long, s long")

    uncast = "SELECT x, SUM(x) OVER () AS s FROM (VALUES (1),(2)) t(x)"
    with _pytest.raises(AssertionError, match="dec"):
        compare(spark, "hugeint_leak", fn, uncast, SF_SMOKE)

    cast = (
        "SELECT x, CAST(SUM(x) OVER () AS BIGINT) AS s"
        " FROM (VALUES (1),(2)) t(x)"
    )
    compare(spark, "hugeint_cast", fn, cast, SF_SMOKE)


def test_pack_oracles_arrow_schema_all_int64():
    """corpus_pack_sequences' oracle (and its BPE twin) must emit int64
    pack_id/offset_in_pack at the Arrow layer — round 6's only driver
    failure was these surfacing as decimal128(38,0) from an uncast
    windowed SUM (VERDICT r6, What's wrong #1)."""
    import pyarrow as pa

    from tests.oracle_harness import duckdb_conn

    con = duckdb_conn(SF_SMOKE)
    try:
        for name in ("corpus_pack_sequences", "corpus_pack_sequences_bpe"):
            tbl = con.execute(_QUERIES[name].oracle).fetch_arrow_table()
            for col in ("n_tokens", "pack_id", "offset_in_pack"):
                t = tbl.schema.field(col).type
                assert pa.types.is_int64(t), f"{name}.{col} is {t}"
    finally:
        con.close()


def test_driver_export_within_budget():
    """The driver checks only the first DRIVER_BUDGET exported queries per
    round; exporting more silently drops CORRECTNESS rows. Queries not
    exported this round are still covered by test_oracle_parity above."""
    from dbt_on_snowflake_spark.registry import DRIVER_BUDGET

    exported = driver_queries()
    assert len(exported) <= DRIVER_BUDGET
    # every query family keeps >= 1 exported row
    families = {
        "dedup_", "text_", "ann_", "q", "w_", "a_", "t_events_", "multimodal_"
    }
    for fam in families:
        assert any(n.startswith(fam) for n in exported), fam


def test_empty_input_parity_sweep(spark, tmp_path):
    """Every oracle-backed batch query must agree with DuckDB on EMPTY
    tables too — the degenerate case where NULL-handling, aggregate
    seeding, and join-shape bugs hide. Schema-preserved empty twins of
    every table; one loop, collected failures.

    r8: the formerly excluded ROLLUP/CUBE divergence (Spark's Expand
    emits no grand-total row on an empty scan; SQL-standard engines
    emit one) is closed by SQL_STANDARD_EMPTY_GROUPING in
    operators/analytics.py — a_rollup_revenue / a_cube_status_priority
    run in this sweep like everything else."""
    import duckdb

    from dbt_on_snowflake_spark.testdata import TABLES

    src = SF_SMOKE
    dst = str(tmp_path / "sf_empty")
    import os

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0)"
            f" TO '{dst}/{t}.parquet' (FORMAT parquet)"
        )
    con.close()

    skip_heavy = lambda n: (  # noqa: E731 — session-stateful/streaming paths
        "streaming" in n or "incremental" in n or "indexed" in n
        or n.startswith("dedup_semantic")
    )
    failures = []
    n_run = 0
    names = _parity_names()  # same default/full shard as the replica
    for name in names:
        q = _QUERIES[name]
        if q.oracle is None or skip_heavy(name):
            continue
        try:
            compare(spark, name, q.fn, q.oracle, dst)
            n_run += 1
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {str(e).splitlines()[0][:160]}")
    assert not failures, "\n".join(failures)
    # the sweep actually covered its shard (full registry: >100)
    assert n_run > (100 if FULL_PARITY else 40)
