"""Unit tests for the extension operators beyond the oracle harness:
multimodal decode exactness, streaming/batch session equivalence, and
LSH recall against exact Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_on_snowflake_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
)
from dbt_on_snowflake_spark.operators.multimodal import (
    fake_decode_rgb,
    multimodal_decode,
)
from dbt_on_snowflake_spark.operators.analytics import t_events_sessionize
from dbt_on_snowflake_spark.streaming import t_events_sessions_streaming
from dbt_on_snowflake_spark.testdata import table
from tests.conftest import SF_SMOKE, assert_index_collects, spark_jobs


def test_multimodal_decode_matches_python(spark):
    """mapInPandas decode must equal the pure-Python decoder per doc."""
    out = {r["doc_id"]: r for r in multimodal_decode(spark, SF_SMOKE).collect()}
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs)
    for d in docs[:50]:
        payload = d["text"].encode("utf-8")
        w, h, c, mi = fake_decode_rgb(payload)
        row = out[d["doc_id"]]
        assert (row["width"], row["height"], row["n_channels"]) == (w, h, c)
        assert abs(row["mean_intensity"] - mi) < 1e-12
        assert row["n_bytes"] == len(payload)


def test_streaming_sessions_match_batch(spark):
    """session_window streaming sessions == batch lag+cumsum sessions."""
    stream = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in t_events_sessions_streaming(spark, SF_SMOKE).collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in t_events_sessionize(spark, SF_SMOKE).collect()
    }
    assert stream == batch


def test_minhash_recall_of_high_jaccard_pairs(spark):
    """LSH candidates must contain every pair with jaccard >= 0.9
    (8 hashes / 4 bands of 2: P(miss | j=0.9) = (1-0.81)^4 ~ 0.1%; the
    planted near-dups are ~0.99 where P(miss) ~ 1e-7)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, SF_SMOKE)
        .filter(F.col("jaccard") >= 0.9)
        .collect()
    }
    candidates = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    assert exact, "expected planted near-duplicates in testdata"
    missed = exact - candidates
    assert not missed, f"LSH missed {len(missed)} high-similarity pairs"


def test_approx_sketches_within_bounds(spark):
    """HLL distinct (rsd=0.02) within 6% (3 sigma) of exact; approx median within 1% of exact
    (the approximate path exact distinct can't afford at 100 TB). The
    exact side comes from the oracle-checked twin query."""
    from dbt_on_snowflake_spark.operators.analytics import (
        _approx_sketches_raw,
        a_approx_sketches,
        a_exact_distinct_median,
    )

    # the registered bounds-gate query must declare every row in-bounds
    gate = a_approx_sketches(spark, SF_SMOKE).collect()
    assert gate and all(
        r.distinct_within_3rsd and r.median_rank_within_eps for r in gate
    )

    approx = {
        r.l_returnflag: r for r in _approx_sketches_raw(spark, SF_SMOKE).collect()
    }
    exact = {
        r.l_returnflag: r for r in a_exact_distinct_median(spark, SF_SMOKE).collect()
    }
    assert set(approx) == set(exact) and approx
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a.approx_orders - e.exact_orders) <= 0.06 * e.exact_orders
        assert (
            abs(a.approx_median_price - e.exact_median_price)
            <= 0.01 * e.exact_median_price
        )


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2 must recover at least the single-probe recall against the
    brute-force ground truth (it scans a superset of the inverted
    lists)."""
    from dbt_on_snowflake_spark.operators.similarity import (
        ann_ivf_multiprobe,
        ann_ivf_topk,
        ann_topk_bruteforce,
    )

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    truth = pairs(ann_topk_bruteforce(spark, SF_SMOKE))
    single = pairs(ann_ivf_topk(spark, SF_SMOKE))
    multi = pairs(ann_ivf_multiprobe(spark, SF_SMOKE))
    recall_single = len(single & truth) / len(truth)
    recall_multi = len(multi & truth) / len(truth)
    # labels in the synthetic data are not nearest-centroid assignments,
    # so absolute recall is data-dependent; the invariant worth pinning is
    # that widening the probe set never loses recall and finds something
    assert recall_multi >= recall_single
    assert recall_multi > 0


def test_connected_components_long_chain_converges(spark):
    """A planted 60-node chain (diameter 59 — the template-drift shape
    real web corpora produce) must converge well inside _CC_MAX_ITERS:
    pointer jumping makes rounds O(log diameter), where round-3's plain
    propagation would have needed 59 rounds and raised at 25."""
    import pandas as pd

    from dbt_on_snowflake_spark.operators.dedup import connected_components

    chain = pd.DataFrame(
        {"doc_a": list(range(100, 159)), "doc_b": list(range(101, 160))}
    )
    got = connected_components(spark.createDataFrame(chain), max_iters=10)
    rows = got.collect()
    assert len(rows) == 60
    assert {r["cluster_id"] for r in rows} == {100}


def test_connected_components_durable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage cuts to durable checkpoint():
    labels are written under the given dir and the result is unchanged."""
    import os

    import pandas as pd

    from dbt_on_snowflake_spark.operators.dedup import connected_components

    edges = pd.DataFrame({"doc_a": [1, 2, 10], "doc_b": [2, 3, 11]})
    ckpt = str(tmp_path / "cc_ckpt")
    got = connected_components(
        spark.createDataFrame(edges), checkpoint_dir=ckpt
    )
    labels = {r["doc_id"]: r["cluster_id"] for r in got.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert any(os.scandir(ckpt))  # durable checkpoint data actually landed


def test_containment_catches_subset_duplication(spark, tmp_path):
    """A short doc pasted verbatim into a much longer one: containment
    1.0 but Jaccard far below the 0.8 near-dup bar — the asymmetric
    operator finds the pair the symmetric one (correctly) rejects."""
    import os

    import pandas as pd

    from dbt_on_snowflake_spark.operators.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    short = " ".join(f"w{i}" for i in range(20))
    long = short + " " + " ".join(f"x{i}" for i in range(80))
    other = " ".join(f"y{i}" for i in range(50))
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [short, long, other],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
        }
    ).to_parquet(os.path.join(str(tmp_path), "documents.parquet"), index=False)

    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup_containment(spark, str(tmp_path)).collect()
    }
    assert cont == {(1, 2): 1.0}
    jac = dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    assert jac == []  # symmetric Jaccard misses the subset pair


def test_pack_sequences_invariants(spark):
    """Packing invariants the oracle hash can't articulate: offsets are
    inside the sequence budget, pack ids are dense from 0 per language,
    and each document's start equals the running token total before it."""
    from dbt_on_snowflake_spark.operators.corpus import (
        PACK_SEQ_LEN,
        corpus_pack_sequences,
    )

    rows = corpus_pack_sequences(spark, SF_SMOKE).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        assert 0 <= r.offset_in_pack < PACK_SEQ_LEN
        by_lang.setdefault(r.lang, []).append(r)
    for lang, docs in by_lang.items():
        docs.sort(key=lambda r: r.doc_id)
        running = 0
        for r in docs:
            assert r.pack_id == running // PACK_SEQ_LEN, (lang, r)
            assert r.offset_in_pack == running % PACK_SEQ_LEN, (lang, r)
            running += r.n_tokens


def test_bpe_chain_matches_iterative_encoder(spark):
    """The two facts _bpe_merged_rep's docstring claims: the rank-ordered
    replace-all chain (the JVM implementation) equals the textbook
    iterative-argmin BPE encoder — on the corpus and on adversarial
    strings (self-overlapping runs, marker chars, cross-boundary bait)."""
    import re

    from dbt_on_snowflake_spark.operators.textops import (
        _BPE_REGEX,
        BPE_MERGES,
        bpe_token_count,
    )

    rank = {p: i for i, p in enumerate(BPE_MERGES)}
    pre = re.compile(_BPE_REGEX)

    def ref_count(text: str) -> int:
        n = 0
        for w in pre.findall(text):
            toks = list(w)
            while True:
                best = min(
                    (
                        (rank[(toks[i], toks[i + 1])], i)
                        for i in range(len(toks) - 1)
                        if (toks[i], toks[i + 1]) in rank
                    ),
                    default=None,
                )
                if best is None:
                    break
                a, b = BPE_MERGES[best[0]]
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            n += len(toks)
        return n

    adversarial = [
        "value value windows",  # whole-word merges, repeated
        "ststst atatat",  # self-overlapping merge runs
        "a~b ~~ x",  # marker chars in the text itself
        "scan scant colulumn lulumn",  # merge-result strings as bait
        "",  # empty doc
        "123 45s t6",  # digit runs + cross-pretoken s|t bait
    ]
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(adversarial)],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.c
        for r in docs.unionByName(extra)
        .select("doc_id", bpe_token_count("text").alias("c"))
        .collect()
    }
    want = {
        r.doc_id: ref_count(r.text) for r in docs.unionByName(extra).collect()
    }
    assert got == want


def test_ann_index_append_refuses_label_blocking_family(spark):
    """The append lifecycle belongs to TRAINED-cell families only (r17
    posture): a label-blocked dedup family's block key arrives
    pre-assigned, so appending by nearest-cell assignment would invent
    keys the contract says come from upstream. The guard detects the
    family kind by its persisted schema (no vlabel column) and fails
    loudly before any write."""
    import hashlib

    import pytest as _pytest

    from dbt_on_snowflake_spark.operators.similarity import (
        _NEW_BATCH_PRED,
        _vectors,
        ann_index_append,
        build_ann_index,
    )

    suffix = hashlib.md5(f"labguard:{SF_SMOKE}".encode()).hexdigest()[:8]
    cent_t = f"ann_centroids_{suffix}"
    asg_t = f"ann_assignments_{suffix}"
    e = _vectors(spark, SF_SMOKE)
    build_ann_index(
        spark, e,
        centroids_table=cent_t, assignments_table=asg_t,
        quantizer="label",
    )
    try:
        before = spark.table(asg_t).count()
        with _pytest.raises(ValueError, match="label-quantizer"):
            ann_index_append(
                spark,
                e.filter(_NEW_BATCH_PRED),
                centroids_table=cent_t,
                assignments_table=asg_t,
            )
        assert spark.table(asg_t).count() == before  # nothing written
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cent_t}")
        spark.sql(f"DROP TABLE IF EXISTS {asg_t}")


def test_ann_index_append_replay_is_noop(spark):
    """At-least-once ingest: re-delivering a batch the index already
    holds must append nothing — the snapshot probe drops every vec_id
    already assigned, the table stays row-identical, and the replay's
    returned assignment set is empty."""
    import hashlib

    from dbt_on_snowflake_spark.operators.similarity import (
        _CORPUS_PRED,
        _NEW_BATCH_PRED,
        _vectors,
        ann_index_append,
        build_ann_index,
    )

    suffix = hashlib.md5(f"replay:{SF_SMOKE}".encode()).hexdigest()[:8]
    cent_t = f"ann_centroids_{suffix}"
    asg_t = f"ann_assignments_{suffix}"
    e = _vectors(spark, SF_SMOKE)
    build_ann_index(
        spark, e.filter(_CORPUS_PRED),
        centroids_table=cent_t, assignments_table=asg_t,
    )
    batch = e.filter(_NEW_BATCH_PRED)
    first = ann_index_append(
        spark, batch, centroids_table=cent_t, assignments_table=asg_t
    ).collect()
    assert first  # first delivery really assigns
    state = sorted(
        (r.vec_id, r.label) for r in
        spark.table(asg_t).select("vec_id", "label").collect()
    )
    replay = ann_index_append(
        spark, batch, centroids_table=cent_t, assignments_table=asg_t
    ).collect()
    assert replay == []
    assert sorted(
        (r.vec_id, r.label) for r in
        spark.table(asg_t).select("vec_id", "label").collect()
    ) == state


def test_ann_index_append_grows_only_new_partition_rows(spark):
    """After ann_incremental_assign: the assignments table holds exactly
    corpus + batch rows; corpus rows sit under their nearest TRAINED
    cell (r17 — the build's ``_assign_cells`` re-key, recomputable
    against the persisted frozen cells); every batch row is stored
    under its oracle-checked frozen-cell assignment; and the ingest
    label survives as ``vlabel`` on every row — the incremental path
    loses nothing and rewrites nothing."""
    import hashlib

    from dbt_on_snowflake_spark.operators.similarity import (
        _CORPUS_PRED,
        _NEW_BATCH_PRED,
        _assign_cells,
        _vectors,
    )
    from dbt_on_snowflake_spark.registry import all_queries

    assigned = {
        r.vec_id: r.assigned_label
        for r in all_queries()["ann_incremental_assign"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    suffix = hashlib.md5(f"incr:{SF_SMOKE}".encode()).hexdigest()[:8]
    rows = (
        spark.table(f"ann_assignments_{suffix}")
        .select("vec_id", "label", "vlabel")
        .collect()
    )
    idx = {r.vec_id: r.label for r in rows}
    vlab = {r.vec_id: r.vlabel for r in rows}
    e = _vectors(spark, SF_SMOKE)
    corpus = {r.vec_id: r.label for r in e.filter(_CORPUS_PRED).collect()}
    batch_ids = {r.vec_id for r in e.filter(_NEW_BATCH_PRED).collect()}
    assert set(idx) == set(corpus) | batch_ids
    # corpus rows: stored under the nearest frozen trained cell
    frozen = [
        (int(r.label), list(r.v))
        for r in spark.table(f"ann_centroids_{suffix}").collect()
    ]
    expected = {
        r.vec_id: r.label
        for r in _assign_cells(
            e.filter(_CORPUS_PRED).select("vec_id", "label", "v"), frozen
        ).collect()
    }
    assert all(idx[v] == cell for v, cell in expected.items())
    # ingest labels preserved as vlabel on every row
    ingest = {r.vec_id: r.label for r in e.collect()}
    assert all(vlab[v] == ingest[v] for v in idx)
    assert assigned.keys() == batch_ids
    assert all(idx[v] == assigned[v] for v in batch_ids)


def test_semantic_dedup_drops_planted_paraphrase(spark, tmp_path):
    """SemDeDup keep/drop semantics on a planted corpus: two near-
    identical vectors (a 'paraphrase pair') in one cluster, everything
    else orthogonal. Exactly one member of the pair is dropped — the one
    LATER in the (centroid-cosine asc, vec_id asc) order, i.e. the more
    centroid-typical copy — and every other vector is kept."""
    import os

    import numpy as np
    import pandas as pd

    from dbt_on_snowflake_spark.operators.similarity import dedup_semantic

    dim = 8

    def unit(i):
        v = np.zeros(dim)
        v[i] = 1.0
        return v

    para_a = unit(0)
    para_b = 0.97 * unit(0) + 0.03 * unit(1)  # cosine ~0.999 with para_a
    rows = [
        (0, para_a, 0),
        (1, para_b, 0),
        (2, unit(2), 0),  # same cluster, orthogonal to the pair
        (3, unit(3), 1),
        (4, unit(4), 1),
    ]
    pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [
                np.asarray(r[1], dtype=np.float32) for r in rows
            ],
            "label": pd.array([r[2] for r in rows], dtype="int32"),
        }
    ).to_parquet(os.path.join(str(tmp_path), "embeddings.parquet"), index=False)

    out = {r.vec_id: r for r in dedup_semantic(spark, str(tmp_path)).collect()}
    assert len(out) == 5
    pair_kept = {v for v in (0, 1) if out[v].kept}
    assert len(pair_kept) == 1  # exactly one of the paraphrase pair survives
    # the survivor is the earlier element in (ccos asc, vec_id asc)
    ka, kb = out[0], out[1]
    first = 0 if (ka.ccos, 0) < (kb.ccos, 1) else 1
    assert pair_kept == {first}
    assert all(out[v].kept for v in (2, 3, 4))


def test_pack_shard_writer_appends_new_shards_only(spark, tmp_path):
    """write_pack_shards is incremental: a second batch containing only
    NEW shard ids adds new (lang, shard_id) partition dirs and leaves
    every file of the existing shards byte-identical (dynamic partition
    overwrite — the per-batch idempotence contract). Rows within a shard
    land ordered by (pack_id, offset_in_pack) for contiguous loading."""
    import glob
    import os

    from dbt_on_snowflake_spark.operators.corpus import (
        corpus_pack_sequences,
        write_pack_shards,
    )
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "shards")
    packed = corpus_pack_sequences(spark, SF_SMOKE)
    # two batches with disjoint (lang, shard_id) partitions — the real
    # incremental case: a new batch's pack ids continue past the last
    # committed shard, so its partitions are new (a straddled boundary
    # shard would be rewritten WHOLE, which is the idempotent replay
    # contract, not an append corruption)
    batch1 = packed.filter("lang in ('en', 'de')")
    n1 = write_pack_shards(spark, batch1, out)
    assert n1 == batch1.count() and n1 > 0

    def snapshot():
        return {
            p: (os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(os.path.join(out, "lang=*", "shard_id=*", "*"))
        }

    before = snapshot()
    dirs_before = set(glob.glob(os.path.join(out, "lang=*", "shard_id=*")))

    batch2 = packed.filter("lang not in ('en', 'de')")
    n2 = write_pack_shards(spark, batch2, out)
    assert n2 == batch2.count()

    after = snapshot()
    dirs_after = set(glob.glob(os.path.join(out, "lang=*", "shard_id=*")))
    assert dirs_before < dirs_after  # new shard partitions appeared
    for p, meta in before.items():
        assert after[p] == meta, f"existing shard file rewritten: {p}"

    # full content = union of both batches; per-shard files are ordered
    got = spark.read.parquet(out)
    assert got.count() == n1 + n2
    one_dir = sorted(dirs_after)[0]
    import pandas as pd
    import glob as g

    parts = sorted(g.glob(os.path.join(one_dir, "*.parquet")))
    rows = pd.concat([pd.read_parquet(p) for p in parts])
    key = list(zip(rows["pack_id"], rows["offset_in_pack"]))
    assert key == sorted(key)


def test_pq_encode_empty_codebook(spark):
    """An empty codebook (empty training input) has no nearest entry:
    every corpus row encodes to PQ_M NULL ``bests`` entries, an empty
    corpus to no rows, both under the non-empty encode's schema."""
    from dbt_on_snowflake_spark.operators.similarity import (
        PQ_M,
        _entries_cb_row,
        _pq_encode,
    )

    corpus = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [-0.5] * 8)], "vec_id long, v array<double>"
    )
    empty_cb = _entries_cb_row(spark, [])
    out = _pq_encode(corpus, empty_cb)
    full = _pq_encode(corpus, _entries_cb_row(spark, [(0, [0.0] * 8)]))
    assert out.schema == full.schema
    assert sorted((r.vec_id, r.bests) for r in out.collect()) == [
        (1, [None] * PQ_M),
        (2, [None] * PQ_M),
    ]
    none = _pq_encode(corpus.limit(0), empty_cb)
    assert none.schema == full.schema
    assert none.collect() == []


def test_semantic_greedy_vs_relaxation_chain(spark):
    """The transitive-chain case where true-sequential SemDeDup and the
    parallel one-pass relaxation genuinely differ: unit 2-D vectors at
    170/0/50/100 degrees (one cell). Scan order by (ccos, vec_id) is
    d(170), a(0), b(50), c(100); a~b and b~c but a!~c and d is dissimilar
    to everything. Greedy keeps c (its only similar predecessor b was
    itself dropped); the relaxation drops c (ANY earlier similar row
    counts, kept or not). Both are valid dedup contracts — this pins
    that the engine offers exactly both, with the documented names."""
    import math

    from dbt_on_snowflake_spark.operators.similarity import (
        _centroid_vectors,
        _semantic_greedy_prune,
        _semantic_prune,
    )

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [(1, 0, unit(170)), (2, 0, unit(0)), (3, 0, unit(50)),
            (4, 0, unit(100))]
    e = spark.createDataFrame(
        rows, "vec_id long, label long, v array<double>"
    )
    cvec = _centroid_vectors(e)

    greedy = {
        r.vec_id: r.kept for r in _semantic_greedy_prune(e, cvec).collect()
    }
    assert greedy == {1: True, 2: True, 3: False, 4: True}

    # the relaxation on the same cell: register as temp views so the
    # table-serving prune runs unchanged
    cvec.createOrReplaceTempView("sem_chain_cents")
    e.createOrReplaceTempView("sem_chain_assign")
    relax = {
        r.vec_id: r.kept
        for r in _semantic_prune(
            spark, "sem_chain_cents", "sem_chain_assign"
        ).collect()
    }
    assert relax == {1: True, 2: True, 3: False, 4: False}


@pytest.mark.parametrize("name", ["ann_topk_bruteforce", "ann_filtered_topk"])
def test_topk_drops_zero_norm(spark, tmp_path, name):
    """A zero-norm embedding yields an undefined (0/0) cosine. The
    brute-force and filtered top-k kernels must drop degenerate pairs —
    as zero-norm neighbor AND as zero-norm query — exactly as their
    registered oracles' NOT isnan guard does, rather than rank them
    (Spark and DuckDB both order NaN above every double under DESC, so
    without the guard the oracle would seat the undefined pair first)."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_on_snowflake_spark.registry import all_queries
    from dbt_on_snowflake_spark.testdata import TABLES
    from tests.oracle_harness import compare

    rng = np.random.RandomState(7)
    n, dim = 60, 8
    vecs = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    vecs[3] = 0.0   # zero-norm NEIGHBOR (candidate for query 0)
    vecs[50] = 0.0  # zero-norm QUERY (vec_id % 50 == 0)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )
    sf = str(tmp_path / "zn_sf")
    os.makedirs(sf)
    pq.write_table(tbl, os.path.join(sf, "embeddings.parquet"))
    for t in TABLES:  # the oracle connection views every table
        if t != "embeddings":
            os.symlink(
                os.path.join(SF_SMOKE, f"{t}.parquet"),
                os.path.join(sf, f"{t}.parquet"),
            )

    q = all_queries()[name]
    assert compare(spark, q.name, q.fn, q.oracle, sf) > 0
    a = q.fn(spark, sf).collect()
    # the zero-norm neighbor never appears; the zero-norm query emits
    # no rows at all (every cosine undefined)
    assert all(r.neighbor_id != 3 for r in a)
    assert all(r.query_id != 50 for r in a)
    assert any(r.query_id == 0 for r in a)  # the healthy query still answers


def test_pq_rerank_exact_over_shortlist(spark):
    """Two-stage serve contract: rerank returns EXACTLY the exact-cosine
    top-k of its own ADC shortlist (quantization error confined to
    shortlist selection), and its recall@k vs brute force is >= plain
    ADC top-k's — reranking can only help."""
    from dbt_on_snowflake_spark.operators.similarity import (
        RERANK_SHORTLIST,
        TOP_K,
        ann_pq_adc_topk,
        ann_pq_rerank_topk,
        ann_topk_bruteforce,
    )

    sf = SF_SMOKE
    rerank = ann_pq_rerank_topk(spark, sf).collect()
    short = {
        (r.query_id, r.neighbor_id)
        for r in ann_pq_adc_topk(spark, sf, k=RERANK_SHORTLIST).collect()
    }
    assert len(rerank) > 0
    # every reranked pair came from the shortlist, <= k per query
    assert all((r.query_id, r.neighbor_id) in short for r in rerank)
    per_q: dict[int, int] = {}
    for r in rerank:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v <= TOP_K for v in per_q.values())

    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk_bruteforce(spark, sf).collect()
    }
    adc5 = {
        (r.query_id, r.neighbor_id)
        for r in ann_pq_adc_topk(spark, sf).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in rerank}
    assert len(got & exact) >= len(adc5 & exact)


def test_mmr_diversifies_vs_plain_topk(spark):
    """MMR contract: rank 1 is the plain relevance argmax, every later
    pick trades relevance for distance to the already-picked set — so
    the MMR set's max within-set similarity is never above the plain
    top-k set's, and is strictly below for at least one query on this
    data (the operator actually does something)."""
    import numpy as np

    from dbt_on_snowflake_spark.operators.similarity import (
        ann_mmr_topk,
        ann_topk_bruteforce,
    )

    sf = SF_SMOKE
    mmr = ann_mmr_topk(spark, sf).collect()
    plain = ann_topk_bruteforce(spark, sf).collect()
    assert len(mmr) > 0
    top1_plain = {r.query_id: r.neighbor_id for r in plain if r.rank == 1}
    top1_mmr = {r.query_id: r.neighbor_id for r in mmr if r.mmr_rank == 1}
    assert top1_mmr == top1_plain

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }

    def maxsim(ids):
        worst = -2.0
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                va, vb = emb[a], emb[b]
                c = float(
                    va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
                )
                worst = max(worst, c)
        return worst

    by_q_mmr: dict[int, list[int]] = {}
    by_q_plain: dict[int, list[int]] = {}
    for r in mmr:
        by_q_mmr.setdefault(r.query_id, []).append(r.neighbor_id)
    for r in plain:
        by_q_plain.setdefault(r.query_id, []).append(r.neighbor_id)
    strictly_better = 0
    for q in by_q_mmr:
        if len(by_q_mmr[q]) < 2 or len(by_q_plain.get(q, [])) < 2:
            continue
        m, p = maxsim(by_q_mmr[q]), maxsim(by_q_plain[q])
        assert m <= p + 1e-9, q
        if m < p - 1e-9:
            strictly_better += 1
    assert strictly_better >= 1


def test_ann_filtered_topk_kernels_agree(spark):
    """Filtered search: the candidate-side metadata predicate restricts
    the scorer's scan — no neighbor outside the filter (row equality
    with the oracle is the parity replica's always-run row)."""
    from dbt_on_snowflake_spark.operators.similarity import (
        ann_filtered_topk,
    )

    a = sorted(map(tuple, ann_filtered_topk(spark, SF_SMOKE).collect()))
    assert len(a) > 0
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    assert all(labels[r[1]] % 2 == 0 for r in a)


def test_rerank_and_hybrid_drop_zero_norm(spark, tmp_path):
    """Degenerate-input contract for the serve paths: a zero-norm
    vector may survive ADC shortlisting (PQ scores are finite ints),
    but its exact rerank cosine is undefined — the pair is dropped, not
    ranked first, and nothing crashes under ANSI mode."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_on_snowflake_spark.operators.similarity import (
        ann_pq_rerank_topk,
    )

    rng = np.random.RandomState(11)
    n, dim = 60, 8
    vecs = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    vecs[3] = 0.0   # zero-norm candidate
    vecs[50] = 0.0  # zero-norm query
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )
    sf = str(tmp_path / "zn_rr")
    os.makedirs(sf)
    pq.write_table(tbl, os.path.join(sf, "embeddings.parquet"))

    rows = ann_pq_rerank_topk(spark, sf).collect()
    assert len(rows) > 0
    assert all(r.neighbor_id != 3 for r in rows)
    assert all(r.query_id != 50 for r in rows)


def _filtered_widen_corpus(tmp_path):
    """Corpus where the query's 2 nearest IVF cells hold ZERO
    filter-matching vectors: label%2==0 is the filter, the query (label
    1) sits nearest cells 1 and 3, and the 7 matching vectors live in
    the farther cells 0 and 2 — a fixed nprobe=2 filtered probe returns
    nothing; the widened probe must fill all TOP_K slots."""
    import math
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [(0, vec(0), 1)]  # the query: vec_id % 50 == 0, cell 1
    nid = 1

    def add(n, deg, label):
        nonlocal nid
        for _ in range(n):
            rows.append((nid, vec(deg), label))
            nid += 1

    add(4, 10, 1)   # cell 1: nearest, non-matching
    add(4, 20, 3)   # cell 3: 2nd nearest, non-matching
    add(3, 50, 0)   # cell 0: matching, 3 vectors
    add(4, 70, 2)   # cell 2: matching, 4 vectors
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    sf = str(tmp_path / "widen_sf")
    os.makedirs(sf)
    pq.write_table(tbl, os.path.join(sf, "embeddings.parquet"))
    return sf


def test_filtered_indexed_widens_probes(spark, tmp_path):
    """The widening contract: a selective filter must not under-fill k.
    On the constructed corpus the fixed-nprobe probe set {2 nearest
    cells} contains no matching vector at all; ann_filtered_indexed
    widens to 4 cells and returns exactly TOP_K rows, every neighbor
    matching the filter, ranked by exact cosine."""
    from dbt_on_snowflake_spark.operators.similarity import (
        TOP_K,
        ann_filtered_indexed,
    )

    sf = _filtered_widen_corpus(tmp_path)
    a = sorted(map(tuple, ann_filtered_indexed(spark, sf).collect()))
    assert len(a) == TOP_K  # k filled despite the empty nearest cells
    # every result matches the filter (labels 0/2 hold vec_ids 9..15)
    assert all(r[1] >= 9 for r in a)
    # cell 0 (50 deg) outranks cell 2 (70 deg): its 3 vectors lead
    top3 = {r[1] for r in sorted(a, key=lambda r: r[3])[:3]}
    assert top3 == {9, 10, 11}


def test_filtered_indexed_matches_unwidened_when_filter_loose(spark):
    """With the parity data's filter (half the cells match and every
    cell holds >> k matching vectors) the widening floor leaves the
    probe set at N_PROBE — the widened query must agree with composing
    the plain fixed-nprobe probe over the filtered corpus, which is
    exactly what its oracle asserts (strict parity covers it); here we
    only pin that the serve plan reads the persisted index and never
    recomputes centroids."""
    from dbt_on_snowflake_spark.plans import explain_str
    from dbt_on_snowflake_spark.registry import all_queries

    df = all_queries()["ann_filtered_indexed"].fn(spark, SF_SMOKE)
    plan = explain_str(df)
    assert "Generate" not in plan  # no posexplode = no centroid recompute
    assert "ann_assignments_" in plan
    assert "embeddings.parquet" not in plan  # arrow: queries collected


def test_text_index_append_converges_to_rebuild(spark):
    """Growing the text index must converge to the from-scratch state
    at the INDEX level, not just the top-N: postings rows, doclen rows,
    and the refreshed stats row of build(90%) + append(10%) equal a
    full-corpus build exactly."""
    from dbt_on_snowflake_spark.operators.textops import (
        _BASE_DOCS_PRED,
        _NEW_DOCS_PRED,
        build_text_index,
        text_index_append,
    )
    from dbt_on_snowflake_spark.testdata import table as t

    from dbt_on_snowflake_spark.operators.textops import _text_df_table

    d = t(spark, SF_SMOKE, "documents")
    full = ("ti_f_stats", "ti_f_post", "ti_f_dl")
    grown = ("ti_g_stats", "ti_g_post", "ti_g_dl")
    build_text_index(
        spark, d, stats_table=full[0], postings_table=full[1],
        doclen_table=full[2],
    )
    build_text_index(
        spark, d.filter(F.expr(_BASE_DOCS_PRED)),
        stats_table=grown[0], postings_table=grown[1],
        doclen_table=grown[2],
    )
    text_index_append(
        spark, d.filter(F.expr(_NEW_DOCS_PRED)),
        stats_table=grown[0], postings_table=grown[1],
        doclen_table=grown[2],
    )
    for f_tbl, g_tbl in zip(full, grown):
        f_rows = sorted(map(tuple, spark.table(f_tbl).collect()))
        g_rows = sorted(map(tuple, spark.table(g_tbl).collect()))
        assert f_rows == g_rows, f_tbl
    assert len(spark.table(full[0]).collect()) == 1  # the one stats row
    # the persisted per-term df (r18) converges as SUM-of-contributions:
    # the grown table holds build rows + one batch's delta rows, whose
    # per-term sums equal the full build's single-contribution rows
    f_df = sorted(map(tuple, spark.table(_text_df_table(full[1]))
                      .select("term", "df").collect()))
    g_df = sorted(map(tuple, spark.table(_text_df_table(grown[1]))
                      .groupBy("term").agg(F.sum("df").alias("df"))
                      .collect()))
    assert f_df == g_df


def test_text_index_at_least_once_replay_is_absorbed(spark):
    """foreachBatch ingest is at-least-once. Two replay shapes must
    leave the served result identical to a clean single delivery:
    (a) a fully re-delivered batch (checkpoint-less restart) is made a
    NO-OP by the idempotence probe — all three index tables stay
    row-identical; (b) a batch replayed after crashing between the
    postings and doclen writes re-appends duplicate postings, which
    the serve's MAX/count aggregates collapse at read."""
    from dbt_on_snowflake_spark.operators.textops import (
        _BASE_DOCS_PRED,
        _NEW_DOCS_PRED,
        _term_part,
        BM25_TOP_N,
        bm25_topn_indexed,
        build_text_index,
        text_index_append,
    )
    from dbt_on_snowflake_spark.testdata import table as t

    d = t(spark, SF_SMOKE, "documents")
    ti = ("tal_stats", "tal_post", "tal_dl")
    build_text_index(
        spark, d.filter(F.expr(_BASE_DOCS_PRED)),
        stats_table=ti[0], postings_table=ti[1], doclen_table=ti[2],
    )
    batch = d.filter(F.expr(_NEW_DOCS_PRED))
    text_index_append(
        spark, batch,
        stats_table=ti[0], postings_table=ti[1], doclen_table=ti[2],
    )
    state = [sorted(map(tuple, spark.table(x).collect())) for x in ti]
    serve = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=ti).collect()))

    # (a) full re-delivery: probe drops every doc, nothing changes
    text_index_append(
        spark, batch,
        stats_table=ti[0], postings_table=ti[1], doclen_table=ti[2],
    )
    assert [
        sorted(map(tuple, spark.table(x).collect())) for x in ti
    ] == state

    # (b) crash between postings and doclen: duplicate postings land
    # (replaying exactly what a retried partial batch would re-append)
    toks = F.split("text", " ")
    (
        batch.select(
            "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn("term_part", _term_part())
        .repartition("term_part")
        .write.mode("append").partitionBy("term_part").saveAsTable(ti[1])
    )
    assert spark.table(ti[1]).count() > len(state[1])  # dups present
    serve_dup = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=ti).collect()))
    assert serve_dup == serve


def test_bm25_serve_ignores_orphaned_postings(spark):
    """The OTHER half of the crash window: postings for NEW docs landed
    but the crash hit before their doclen rows — and the retry has not
    arrived yet. The serve must read the exact pre-batch index state:
    orphans appear in neither the result rows (doclen spine) nor any
    df count (r18: df comes from the persisted df table, which the
    crashed append never merged into — an orphan-inflated df would
    skew every served idf while n_docs/avgdl still exclude the
    orphans)."""
    from dbt_on_snowflake_spark.operators.textops import (
        _BASE_DOCS_PRED,
        _NEW_DOCS_PRED,
        _term_part,
        BM25_TOP_N,
        bm25_topn_indexed,
        build_text_index,
    )
    from dbt_on_snowflake_spark.testdata import table as t

    d = t(spark, SF_SMOKE, "documents")
    ti = ("torph_stats", "torph_post", "torph_dl")
    build_text_index(
        spark, d.filter(F.expr(_BASE_DOCS_PRED)),
        stats_table=ti[0], postings_table=ti[1], doclen_table=ti[2],
    )
    serve0 = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=ti).collect()))

    # crash after the postings write, before doclen: orphaned postings
    toks = F.split("text", " ")
    (
        d.filter(F.expr(_NEW_DOCS_PRED))
        .select(
            "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn("term_part", _term_part())
        .repartition("term_part")
        .write.mode("append").partitionBy("term_part").saveAsTable(ti[1])
    )
    serve1 = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=ti).collect()))
    assert serve1 == serve0


def test_text_index_df_merge_gated_and_idempotent(spark):
    """The persisted per-term df's crash window (r18, _text_df_table):
    a crash AFTER the df merge but BEFORE the doclen commit leaves df
    rows whose gen exceeds the committed stats n_docs — the serve must
    keep reading the exact pre-batch state (the gen gate hides them);
    the batch's REDELIVERY must skip the already-landed df rows (bkey
    probe) so the committed per-term SUM counts the batch exactly
    once and the grown index serves identically to a from-scratch
    rebuild."""
    from dbt_on_snowflake_spark.operators.textops import (
        _BASE_DOCS_PRED,
        _NEW_DOCS_PRED,
        _batch_fingerprint,
        _term_part,
        _text_df_table,
        BM25_TOP_N,
        bm25_topn_indexed,
        build_text_index,
        text_index_append,
    )
    from dbt_on_snowflake_spark.testdata import table as t

    d = t(spark, SF_SMOKE, "documents")
    full = ("tdfg_f_stats", "tdfg_f_post", "tdfg_f_dl")
    gr = ("tdfg_g_stats", "tdfg_g_post", "tdfg_g_dl")
    build_text_index(
        spark, d, stats_table=full[0], postings_table=full[1],
        doclen_table=full[2],
    )
    build_text_index(
        spark, d.filter(F.expr(_BASE_DOCS_PRED)),
        stats_table=gr[0], postings_table=gr[1], doclen_table=gr[2],
    )
    serve0 = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=gr).collect()))

    # replicate the append's first TWO writes (postings + df merge)
    # with the exact gen/bkey stamps, then "crash" before doclen
    batch = d.filter(F.expr(_NEW_DOCS_PRED))
    n_b, bkey = _batch_fingerprint(batch)
    toks = F.split("text", " ")
    (
        batch.select(
            "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn("term_part", _term_part())
        .repartition("term_part")
        .write.mode("append").partitionBy("term_part").saveAsTable(gr[1])
    )
    n_pre = spark.table(gr[0]).first()["n_docs"]
    df_t = _text_df_table(gr[1])
    (
        batch.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term", "doc_id").count()
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term", "df",
            F.lit(int(n_pre) + n_b).cast("long").alias("gen"),
            F.lit(bkey).alias("bkey"),
            _term_part().alias("term_part"),
        )
        .repartition("term_part")
        .write.mode("append").partitionBy("term_part").saveAsTable(df_t)
    )
    # pending df rows are INVISIBLE: gen > committed stats.n_docs
    serve_pending = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=gr).collect()))
    assert serve_pending == serve0

    # redelivery: doclen probe re-admits the docs, df probe must SKIP
    # the already-landed rows — the per-term SUM counts the batch once
    rows_pending = spark.table(df_t).count()
    text_index_append(
        spark, batch,
        stats_table=gr[0], postings_table=gr[1], doclen_table=gr[2],
    )
    assert spark.table(df_t).count() == rows_pending  # no second merge
    f_df = sorted(map(tuple, spark.table(_text_df_table(full[1]))
                      .select("term", "df").collect()))
    g_df = sorted(map(tuple, spark.table(df_t)
                      .groupBy("term").agg(F.sum("df").alias("df"))
                      .collect()))
    assert f_df == g_df
    serve_after = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=gr).collect()))
    serve_full = sorted(map(tuple, bm25_topn_indexed(
        spark, SF_SMOKE, BM25_TOP_N, tables=full).collect()))
    assert serve_after == serve_full


def test_text_index_fold_rebuilds_df(spark):
    """fold_tombstones must rebuild the persisted per-term df from the
    rewritten postings/doclen (r18): post-fold df rows equal a fresh
    build over the surviving docs (same term/df pairs, gen=0 fold
    rows), and the pristine post-fold serve matches the rebuild's."""
    from dbt_on_snowflake_spark.engine.index_delete import (
        fold_tombstones,
    )
    from dbt_on_snowflake_spark.operators.textops import (
        _NEW_DOCS_PRED,
        _text_df_table,
        _text_tombstones,
        BM25_TOP_N,
        bm25_topn_indexed,
        build_text_index,
        text_index_delete,
    )
    from dbt_on_snowflake_spark.testdata import table as t

    d = t(spark, SF_SMOKE, "documents")
    full = ("tdffold_stats", "tdffold_post", "tdffold_dl")
    ref = ("tdffoldr_stats", "tdffoldr_post", "tdffoldr_dl")
    kw = dict(
        stats_table=full[0], postings_table=full[1], doclen_table=full[2]
    )
    build_text_index(spark, d, **kw)
    build_text_index(
        spark, d.filter(f"NOT ({_NEW_DOCS_PRED})"),
        stats_table=ref[0], postings_table=ref[1], doclen_table=ref[2],
    )
    text_index_delete(
        spark, d.filter(F.expr(_NEW_DOCS_PRED)).select("doc_id"), **kw
    )
    fold_tombstones(spark, _text_tombstones(full[1]))
    assert not spark.catalog.tableExists(_text_tombstones(full[1]))
    folded = sorted(map(tuple, spark.table(_text_df_table(full[1]))
                        .select("term", "df", "gen", "bkey").collect()))
    fresh = sorted(map(tuple, spark.table(_text_df_table(ref[1]))
                       .select("term", "df").collect()))
    assert [(tm, df) for tm, df, _, _ in folded] == fresh
    assert all(g == 0 and b == "fold" for _, _, g, b in folded)
    assert (
        sorted(map(tuple, bm25_topn_indexed(
            spark, SF_SMOKE, BM25_TOP_N, tables=full).collect()))
        == sorted(map(tuple, bm25_topn_indexed(
            spark, SF_SMOKE, BM25_TOP_N, tables=ref).collect()))
    )


def test_pq_index_append_replay_is_noop(spark):
    """At-least-once ingest for the PQ codes: re-delivering a batch the
    index already encodes must append nothing — the snapshot probe
    drops every vec_id already coded, the codes table stays
    row-identical, and the replay's returned encode set is empty."""
    import hashlib

    from dbt_on_snowflake_spark.operators.similarity import (
        _CORPUS_PRED,
        _NEW_BATCH_PRED,
        _vectors,
        build_pq_index,
        pq_index_append,
    )

    suffix = hashlib.md5(f"pqreplay:{SF_SMOKE}".encode()).hexdigest()[:8]
    cb_t = f"pq_codebook_{suffix}"
    cd_t = f"pq_codes_{suffix}"
    e = _vectors(spark, SF_SMOKE)
    build_pq_index(
        spark, e.filter(_CORPUS_PRED),
        codebook_table=cb_t, codes_table=cd_t,
    )
    batch = e.filter(_NEW_BATCH_PRED)
    first = pq_index_append(
        spark, batch, codebook_table=cb_t, codes_table=cd_t
    ).collect()
    assert first  # first delivery really encodes
    spark.catalog.refreshTable(cd_t)
    state = sorted(
        (r.vec_id, r.label) for r in
        spark.table(cd_t).select("vec_id", "label").collect()
    )
    replay = pq_index_append(
        spark, batch, codebook_table=cb_t, codes_table=cd_t
    ).collect()
    assert replay == []
    spark.catalog.refreshTable(cd_t)
    assert sorted(
        (r.vec_id, r.label) for r in
        spark.table(cd_t).select("vec_id", "label").collect()
    ) == state


def test_pq_index_append_converges_to_rebuild(spark):
    """Codes are per-row facts of (vector, frozen codebook): the
    append-grown codes table must equal a from-scratch encode of the
    FULL corpus against the same codebook, row for row — the
    encode-once contract the other append paths carry
    (text_index_append / ann_index_append convergence)."""
    import hashlib

    from dbt_on_snowflake_spark.operators.similarity import (
        _CORPUS_PRED,
        _NEW_BATCH_PRED,
        _codebook_row,
        _pq_encode,
        _vectors,
        build_pq_index,
        pq_index_append,
    )

    suffix = hashlib.md5(f"pqconv:{SF_SMOKE}".encode()).hexdigest()[:8]
    cb_t = f"pq_codebook_{suffix}"
    cd_t = f"pq_codes_{suffix}"
    e = _vectors(spark, SF_SMOKE)
    build_pq_index(
        spark, e.filter(_CORPUS_PRED),
        codebook_table=cb_t, codes_table=cd_t,
    )
    pq_index_append(
        spark, e.filter(_NEW_BATCH_PRED),
        codebook_table=cb_t, codes_table=cd_t,
    )
    spark.catalog.refreshTable(cd_t)
    grown = sorted(
        (r.vec_id, tuple((b.d, b.code) for b in r.bests))
        for r in spark.table(cd_t).select("vec_id", "bests").collect()
    )
    rebuilt = sorted(
        (r.vec_id, tuple((b.d, b.code) for b in r.bests))
        for r in _pq_encode(
            e.select("vec_id", "label", "v"),
            _codebook_row(spark.table(cb_t)),
        ).collect()
    )
    assert grown == rebuilt


def _fresh_ivfpq(spark, tag):
    from dbt_on_snowflake_spark.operators.similarity import (
        _CORPUS_PRED,
        _vectors,
        build_ivfpq_index,
    )

    cells_t = f"ivf_cells_{tag}"
    cb_t = f"pq_codebook_ivp_{tag}"
    cd_t = f"pq_codes_ivp_{tag}"
    e = _vectors(spark, SF_SMOKE)
    build_ivfpq_index(
        spark, e.filter(_CORPUS_PRED),
        cells_table=cells_t, codebook_table=cb_t, codes_table=cd_t,
    )
    return e, cells_t, cb_t, cd_t


def _drop_ivfpq(spark, *tables):
    from dbt_on_snowflake_spark.operators.dedup import _drop_managed_table

    for t in tables:
        _drop_managed_table(spark, t)


def test_ivfpq_index_append_replay_is_noop(spark):
    """At-least-once ingest for the IVFPQ codes (r16): re-delivering a
    batch the index already encodes must append nothing — the snapshot
    probe drops every vec_id already coded, the cell-partitioned codes
    stay row-identical, and the replay's returned encode set is
    empty."""
    from dbt_on_snowflake_spark.operators.similarity import (
        _NEW_BATCH_PRED,
        ivfpq_index_append,
    )

    e, cells_t, cb_t, cd_t = _fresh_ivfpq(spark, "ivpreplay")
    try:
        batch = e.filter(_NEW_BATCH_PRED)
        first = ivfpq_index_append(
            spark, batch,
            cells_table=cells_t, codebook_table=cb_t, codes_table=cd_t,
        ).collect()
        assert first  # first delivery really encodes
        spark.catalog.refreshTable(cd_t)
        state = sorted(
            (r.vec_id, r.label) for r in
            spark.table(cd_t).select("vec_id", "label").collect()
        )
        replay = ivfpq_index_append(
            spark, batch,
            cells_table=cells_t, codebook_table=cb_t, codes_table=cd_t,
        ).collect()
        assert replay == []
        spark.catalog.refreshTable(cd_t)
        assert sorted(
            (r.vec_id, r.label) for r in
            spark.table(cd_t).select("vec_id", "label").collect()
        ) == state
    finally:
        _drop_ivfpq(spark, cd_t, cb_t, cells_t)


def test_ivfpq_index_append_converges_to_frozen_encode(spark):
    """Cell assignment and codes are per-row facts of (vector, FROZEN
    quantizer pair): the append-grown codes table must equal a
    from-scratch assign+encode of the FULL corpus against the same
    persisted cells and codebook, row for row — including the
    partition column (the appended rows landed in their frozen-cell
    partitions)."""
    from dbt_on_snowflake_spark.operators.similarity import (
        _NEW_BATCH_PRED,
        _assign_cells,
        _codebook_row,
        _pq_encode,
        ivfpq_index_append,
    )

    e, cells_t, cb_t, cd_t = _fresh_ivfpq(spark, "ivpconv")
    try:
        ivfpq_index_append(
            spark, e.filter(_NEW_BATCH_PRED),
            cells_table=cells_t, codebook_table=cb_t, codes_table=cd_t,
        )
        spark.catalog.refreshTable(cd_t)
        grown = sorted(
            (r.vec_id, r.label, tuple((b.d, b.code) for b in r.bests))
            for r in spark.table(cd_t)
            .select("vec_id", "label", "bests")
            .collect()
        )
        frozen_cells = [
            (int(r["label"]), list(r["v"]))
            for r in spark.table(cells_t).collect()
        ]
        rebuilt = sorted(
            (r.vec_id, r.label, tuple((b.d, b.code) for b in r.bests))
            for r in _pq_encode(
                _assign_cells(e.select("vec_id", "label", "v"), frozen_cells),
                _codebook_row(spark.table(cb_t)),
            ).collect()
        )
        assert grown == rebuilt
    finally:
        _drop_ivfpq(spark, cd_t, cb_t, cells_t)


def test_ivfpq_append_no_corpus_reencode_or_retrain(spark):
    """ivfpq_index_append must assign+encode ONLY the batch against
    the persisted FROZEN quantizers: with an in-memory batch, the
    codebook collect reads pq_codebook_ivp_, and neither the
    construction-time collects, the append's write nor the returned
    plan reads the corpus parquet or carries a training stage — at
    100 TB an embeddings scan or a posexplode here means the append
    retrains or re-encodes per batch."""
    from dbt_on_snowflake_spark.operators.similarity import (
        ivfpq_index_append,
    )
    from dbt_on_snowflake_spark.plans import explain_str

    e, cells_t, cb_t, cd_t = _fresh_ivfpq(spark, "ivpplan")
    try:
        batch = spark.createDataFrame(
            [(100009, 0, [0.1] * 64), (100019, 1, [0.2] * 64)],
            "vec_id long, label long, v array<double>",
        )
        with spark_jobs(spark) as seen:
            plan = explain_str(
                ivfpq_index_append(
                    spark, batch,
                    cells_table=cells_t, codebook_table=cb_t,
                    codes_table=cd_t,
                )
            )
        assert_index_collects(seen.plans, "pq_codebook_ivp_")
        assert not [p for p in seen.plans if "embeddings.parquet" in p]
        assert "embeddings.parquet" not in plan  # corpus never re-read
        assert "Generate" not in plan  # posexplode = quantizer retrain
        assert "MapInPandas" in plan  # assign+encode kernels
    finally:
        _drop_ivfpq(spark, cd_t, cb_t, cells_t)


def test_ivfpq_delete_gates_the_pruned_serve(spark):
    """The IVFPQ family composes with the shared tombstone machinery:
    deleting ids via ``pq_index_delete`` flips the partition-pruned
    serve to the gated read (LeftAnti present) and no deleted vector
    is ever returned as a neighbor — the delete matrix's PQ semantics
    carried over to the cell-partitioned family."""
    from dbt_on_snowflake_spark.operators.similarity import (
        _NEW_BATCH_PRED,
        _ivfpq_serve,
        ivfpq_index_append,
        pq_index_delete,
    )
    from dbt_on_snowflake_spark.plans import explain_str

    e, cells_t, cb_t, cd_t = _fresh_ivfpq(spark, "ivpdel")
    try:
        ivfpq_index_append(
            spark, e.filter(_NEW_BATCH_PRED),
            cells_table=cells_t, codebook_table=cb_t, codes_table=cd_t,
        )
        spark.catalog.refreshTable(cd_t)
        deleted = e.filter(_NEW_BATCH_PRED).select("vec_id")
        pq_index_delete(spark, deleted, codes_table=cd_t)
        served = _ivfpq_serve(spark, SF_SMOKE, cells_t, cb_t, cd_t)
        assert "LeftAnti" in explain_str(served)  # paying the gate
        dead = {r.vec_id for r in deleted.collect()}
        got = {r.neighbor_id for r in served.collect()}
        assert served.count() > 0
        assert not dead & got, sorted(dead & got)
    finally:
        _drop_ivfpq(spark, cd_t, cb_t, cells_t)


def test_pq_index_refreshes_on_corpus_regeneration(spark, tmp_path):
    """ensure_pq_index keys its build-once suffix on a (path, size,
    mtime) fingerprint of the corpus files, not the path alone: a
    corpus REGENERATED at the same path within a session (or under a
    persistent metastore) must trigger a rebuild, not silently serve
    stale codes (r10 advice, similarity.py:2323)."""
    import os
    import shutil

    import pandas as pd

    from dbt_on_snowflake_spark.operators.similarity import ensure_pq_index

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    src = os.path.join(SF_SMOKE, "embeddings.parquet")
    shutil.copyfile(src, os.path.join(corpus, "embeddings.parquet"))
    cb1, cd1 = ensure_pq_index(spark, corpus)
    n1 = spark.table(cd1).count()
    # build-once holds while the corpus is unchanged
    assert ensure_pq_index(spark, corpus) == (cb1, cd1)

    # regenerate the corpus in place: same path, different content —
    # and drop the TTL-cached fingerprint so the very next suffix
    # derivation re-lists (testdata.FP_TTL_S)
    pd.read_parquet(src).head(200).to_parquet(
        os.path.join(corpus, "embeddings.parquet"), index=False
    )
    from dbt_on_snowflake_spark.testdata import (
        invalidate_corpus_fingerprints,
    )

    invalidate_corpus_fingerprints()
    cb2, cd2 = ensure_pq_index(spark, corpus)
    assert (cb2, cd2) != (cb1, cd1)  # fingerprint moved -> fresh tables
    assert spark.table(cd2).count() == 200 != n1
    # the superseded fingerprint's tables were GC'd by the rebuild —
    # without it every regeneration leaks a full index copy (r11 review)
    assert not spark.catalog.tableExists(cb1)
    assert not spark.catalog.tableExists(cd1)
    for t in (cb2, cd2):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_index_gc_reclaims_uncataloged_and_legacy_dirs(spark):
    """The GC must reclaim DISK, not just catalog entries (r11 review,
    second pass): a fresh session's in-memory catalog has forgotten a
    prior session's superseded tables but their warehouse dirs persist;
    and pre-fingerprint (r10-scheme) names — exactly <prefix><path8>,
    no fingerprint half — must be swept on upgrade instead of stranded
    forever. The active pair and other families survive."""
    import os
    import shutil

    from dbt_on_snowflake_spark.testdata import gc_superseded_index_tables

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    suffix = "aaaa1111_bbbb2222"
    dirs = {
        "pq_codes_aaaa1111_99990000": False,  # superseded fp, uncataloged
        "pq_codes_aaaa1111": False,  # legacy pre-fingerprint name
        f"pq_codes_{suffix}": True,  # the active pair
        "pq_codes_ffff0000_11112222": True,  # another corpus' family
    }
    for d in dirs:
        os.makedirs(os.path.join(wh, d), exist_ok=True)
        with open(os.path.join(wh, d, "part-0.parquet"), "w") as f:
            f.write("x")
    # a temp view and a FOREIGN external table (location outside the
    # warehouse — a name collision with someone else's data) that match
    # the superseded pattern must both survive (r11 review, fourth pass)
    spark.range(1).createOrReplaceTempView("pq_codes_aaaa1111_77770000")
    foreign_loc = os.path.join(wh, "..", "foreign_pq")
    spark.range(3).toDF("doc_id").write.mode("overwrite").parquet(foreign_loc)
    spark.sql("DROP TABLE IF EXISTS pq_codes_aaaa1111_66660000")
    spark.catalog.createTable(
        "pq_codes_aaaa1111_66660000", path=foreign_loc, source="parquet"
    )
    try:
        reclaimed = gc_superseded_index_tables(spark, ("pq_codes_",), suffix)
        for d, survives in dirs.items():
            assert os.path.isdir(os.path.join(wh, d)) == survives, d
        assert set(reclaimed) == {k for k, v in dirs.items() if not v}
        assert spark.catalog.tableExists("pq_codes_aaaa1111_66660000")
        assert spark.table("pq_codes_aaaa1111_66660000").count() == 3
        assert "pq_codes_aaaa1111_77770000" in [
            t.name for t in spark.catalog.listTables() if t.isTemporary
        ]
    finally:
        spark.catalog.dropTempView("pq_codes_aaaa1111_77770000")
        spark.sql("DROP TABLE IF EXISTS pq_codes_aaaa1111_66660000")
        shutil.rmtree(foreign_loc, ignore_errors=True)
        for d in dirs:
            shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def test_index_gc_failed_drop_protects_data_and_dedups(
    spark, tmp_path, monkeypatch
):
    """Two empirically-found GC hazards (r11 review, fifth pass):
    (1) a transiently-failed DROP leaves the table registered — the dir
    sweep must then NOT delete its data (a dangling entry would read 0
    rows silently forever); (2) a re-attached EXTERNAL index under the
    warehouse is reclaimed by catalog drop + dir sweep — ONE reclaim
    record, not two. Plus: a superseded-named dir under a database
    whose LOCATION is outside the warehouse is foreign data and must
    survive."""
    import os
    import shutil

    from dbt_on_snowflake_spark.testdata import gc_superseded_index_tables

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    suffix = "cccc3333_dddd4444"

    # (1) managed superseded table whose DROP fails transiently
    prot = "pq_codes_cccc3333_00009999"
    spark.sql(f"DROP TABLE IF EXISTS {prot}")
    spark.range(7).toDF("doc_id").write.saveAsTable(prot)
    # (2) re-attached EXTERNAL superseded index under the warehouse
    ext = "pq_codes_cccc3333_00008888"
    ext_loc = os.path.join(wh, ext)
    spark.sql(f"DROP TABLE IF EXISTS {ext}")
    shutil.rmtree(ext_loc, ignore_errors=True)
    spark.range(5).toDF("doc_id").write.parquet(ext_loc)
    spark.catalog.createTable(ext, path=ext_loc, source="parquet")
    # (3) foreign-location database with a superseded-named dir
    fdb_loc = str(tmp_path / "foreign_db_loc")
    spark.sql(f"CREATE DATABASE gcf_db LOCATION '{fdb_loc}'")
    foreign_dir = os.path.join(fdb_loc, "pq_codes_cccc3333_00007777")
    os.makedirs(foreign_dir)
    with open(os.path.join(foreign_dir, "keep.parquet"), "w") as f:
        f.write("foreign")

    real_sql = spark.sql

    def flaky_sql(q, *a, **k):
        if prot in q and q.lstrip().startswith("DROP TABLE"):
            raise RuntimeError("transient metastore error")
        return real_sql(q, *a, **k)

    monkeypatch.setattr(spark, "sql", flaky_sql)
    try:
        reclaimed = gc_superseded_index_tables(spark, ("pq_codes_",), suffix)
    finally:
        monkeypatch.undo()
    try:
        # (1) the failed drop's table is intact: registered AND readable
        assert spark.catalog.tableExists(prot)
        assert spark.table(prot).count() == 7
        assert prot not in reclaimed
        # (2) the external reclaim is recorded exactly once, dir gone
        assert reclaimed.count(ext) == 1
        assert not spark.catalog.tableExists(ext)
        assert not os.path.isdir(ext_loc)
        # (3) foreign-location data untouched
        assert os.path.isfile(os.path.join(foreign_dir, "keep.parquet"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prot}")
        spark.sql("DROP DATABASE IF EXISTS gcf_db CASCADE")
        shutil.rmtree(fdb_loc, ignore_errors=True)


def test_index_gc_fails_closed_when_catalog_unreadable(spark, monkeypatch):
    """If ANY database's registrations cannot be read, the GC must not
    touch disk at all (r11 review, sixth pass): an unreadable catalog
    means a registered table's data dir could be mistaken for an
    orphan — fail closed, retry next build."""
    import os
    import shutil

    from dbt_on_snowflake_spark.testdata import gc_superseded_index_tables

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    d = os.path.join(wh, "pq_codes_eeee5555_00001111")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write("x")

    def boom(*a, **k):
        raise RuntimeError("metastore down")

    monkeypatch.setattr(
        "dbt_on_snowflake_spark.engine.catalog.list_tables", boom
    )
    try:
        reclaimed = gc_superseded_index_tables(
            spark, ("pq_codes_",), "eeee5555_ffff6666"
        )
    finally:
        monkeypatch.undo()
    try:
        assert reclaimed == []
        assert os.path.isdir(d)  # nothing reclaimed while blind
        # with the catalog readable again, the orphan IS reclaimed
        reclaimed = gc_superseded_index_tables(
            spark, ("pq_codes_",), "eeee5555_ffff6666"
        )
        assert "pq_codes_eeee5555_00001111" in reclaimed
        assert not os.path.isdir(d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_text_and_ann_indexes_refresh_on_corpus_regeneration(
    spark, tmp_path
):
    """The fingerprint keying is a FAMILY-WIDE mechanism, not a PQ
    special case (r11 review): the BM25 text index and the served-ANN
    index must also rotate their tables when the corpus regenerates in
    place, and GC the superseded pair."""
    import os
    import shutil

    import pandas as pd

    from dbt_on_snowflake_spark.operators.textops import (
        _text_index_tables,
        ensure_text_index,
    )
    from dbt_on_snowflake_spark.testdata import index_suffix

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    for t in ("documents", "embeddings"):
        shutil.copyfile(
            os.path.join(SF_SMOKE, f"{t}.parquet"),
            os.path.join(corpus, f"{t}.parquet"),
        )

    from dbt_on_snowflake_spark.testdata import (
        invalidate_corpus_fingerprints,
    )

    # text family
    ensure_text_index(spark, corpus)
    t1 = _text_index_tables(spark, corpus)
    pd.read_parquet(os.path.join(SF_SMOKE, "documents.parquet")).head(
        100
    ).to_parquet(os.path.join(corpus, "documents.parquet"), index=False)
    # in-session regeneration: drop the TTL-cached fingerprint so the
    # very next suffix derivation re-lists (testdata.FP_TTL_S)
    invalidate_corpus_fingerprints()
    t2 = _text_index_tables(spark, corpus)
    assert t2 != t1  # fingerprint rotated the names
    ensure_text_index(spark, corpus)  # rebuild + GC
    assert all(spark.catalog.tableExists(t) for t in t2)
    assert not any(spark.catalog.tableExists(t) for t in t1)
    assert spark.table(t2[2]).count() == 100  # doclen covers new corpus

    # served-ANN family (dedup_semantic_served's suffix convention)
    from dbt_on_snowflake_spark.operators.similarity import (
        _vectors,
        ensure_ann_index,
    )

    s1 = index_suffix(spark, corpus, "semserved", "embeddings")
    kw1 = dict(
        centroids_table=f"ann_centroids_{s1}",
        assignments_table=f"ann_assignments_{s1}",
        job_group="t", gc_suffix=s1,
    )
    ensure_ann_index(spark, _vectors(spark, corpus), **kw1)
    pd.read_parquet(os.path.join(SF_SMOKE, "embeddings.parquet")).head(
        150
    ).to_parquet(os.path.join(corpus, "embeddings.parquet"), index=False)
    invalidate_corpus_fingerprints()
    s2 = index_suffix(spark, corpus, "semserved", "embeddings")
    assert s2 != s1
    ensure_ann_index(
        spark, _vectors(spark, corpus),
        centroids_table=f"ann_centroids_{s2}",
        assignments_table=f"ann_assignments_{s2}",
        job_group="t", gc_suffix=s2,
    )
    assert spark.table(f"ann_assignments_{s2}").count() == 150
    assert not spark.catalog.tableExists(f"ann_assignments_{s1}")
    assert not spark.catalog.tableExists(f"ann_centroids_{s1}")
    for t in (*t2, f"ann_centroids_{s2}", f"ann_assignments_{s2}"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ensure_rebuilds_partial_index_family(spark):
    """A crashed compaction swap (index_maintenance.py's drop-to-rename
    window) can lose ONE table of a multi-table index family while its
    siblings survive. Every ensure_* must probe ALL the family's
    tables — a single-table probe would skip the rebuild and leave the
    serves throwing TABLE_OR_VIEW_NOT_FOUND on the missing sibling."""
    import hashlib

    from dbt_on_snowflake_spark.operators.similarity import (
        _vectors,
        ensure_ann_index,
        ensure_pq_index,
    )
    from dbt_on_snowflake_spark.operators.textops import (
        _text_index_tables,
        ensure_text_index,
    )

    # text: three tables; kill the doclen survivor-sibling
    ensure_text_index(spark, SF_SMOKE)
    stats_t, post_t, dl_t = _text_index_tables(spark, SF_SMOKE)
    spark.sql(f"DROP TABLE {dl_t}")
    ensure_text_index(spark, SF_SMOKE)
    assert all(
        spark.catalog.tableExists(x) for x in (stats_t, post_t, dl_t)
    )

    # pq: codebook + codes; kill the codebook
    cb_t, cd_t = ensure_pq_index(spark, SF_SMOKE)
    spark.sql(f"DROP TABLE {cb_t}")
    ensure_pq_index(spark, SF_SMOKE)
    assert spark.catalog.tableExists(cb_t)
    assert spark.catalog.tableExists(cd_t)

    # ann: centroids + assignments; kill the centroids
    sfx = hashlib.md5(f"erpif:{SF_SMOKE}".encode()).hexdigest()[:8]
    cent_t, asg_t = f"ann_centroids_{sfx}", f"ann_assignments_{sfx}"
    e = _vectors(spark, SF_SMOKE)
    kw = dict(
        centroids_table=cent_t, assignments_table=asg_t, job_group="t"
    )
    ensure_ann_index(spark, e, **kw)
    spark.sql(f"DROP TABLE {cent_t}")
    ensure_ann_index(spark, e, **kw)
    assert spark.catalog.tableExists(cent_t)
    assert spark.catalog.tableExists(asg_t)


def test_filtered_rerank_indexed_respects_filter(spark):
    """Every neighbor of the filtered two-stage PQ serve matches the
    candidate predicate and each query's k is filled from the matching
    set."""
    from dbt_on_snowflake_spark.operators.similarity import (
        ANN_FILTER_PRED,
        TOP_K,
        ann_filtered_rerank_indexed,
    )

    rows = ann_filtered_rerank_indexed(spark, SF_SMOKE).collect()
    assert rows
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    assert ANN_FILTER_PRED == "label % 2 = 0"  # the parity predicate
    assert all(labels[r.neighbor_id] % 2 == 0 for r in rows)
    per_q = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(n == TOP_K for n in per_q.values())


def test_fingerprint_ttl_cache_and_invalidation(spark, tmp_path, monkeypatch):
    """Steady-state fingerprinting is one LIST per path per TTL window
    (r11 verdict What's wrong #1): repeated calls inside the TTL hit
    the cache, invalidation forces an immediate re-list, and TTL expiry
    picks up a regenerated corpus without any explicit call."""
    import os
    import shutil as _sh

    from dbt_on_snowflake_spark import testdata
    from dbt_on_snowflake_spark.engine import fs as _fs

    corpus = str(tmp_path / "fpcache")
    os.makedirs(corpus)
    _sh.copyfile(
        os.path.join(SF_SMOKE, "embeddings.parquet"),
        os.path.join(corpus, "embeddings.parquet"),
    )
    calls = {"n": 0}
    real = _fs.fs_file_stats

    def counting(spark_, path):
        calls["n"] += 1
        return real(spark_, path)

    monkeypatch.setattr(_fs, "fs_file_stats", counting)
    testdata.invalidate_corpus_fingerprints()
    fp1 = testdata.corpus_fingerprint(spark, corpus, "embeddings")
    for _ in range(5):
        assert testdata.corpus_fingerprint(spark, corpus, "embeddings") == fp1
    assert calls["n"] == 1  # five serves, one LIST
    # regeneration + invalidation rotates immediately
    import pandas as pd

    pd.read_parquet(os.path.join(corpus, "embeddings.parquet")).head(
        10
    ).to_parquet(os.path.join(corpus, "embeddings.parquet"), index=False)
    testdata.invalidate_corpus_fingerprints(
        os.path.join(corpus, "embeddings.parquet")
    )
    fp2 = testdata.corpus_fingerprint(spark, corpus, "embeddings")
    assert fp2 != fp1 and calls["n"] == 2
    # TTL expiry alone also re-lists (no invalidation call)
    path = os.path.join(corpus, "embeddings.parquet")
    deadline, cached = testdata._FP_CACHE[path]
    testdata._FP_CACHE[path] = (0.0, cached)  # force-expire
    assert testdata.corpus_fingerprint(spark, corpus, "embeddings") == fp2
    assert calls["n"] == 3
