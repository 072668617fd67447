"""Two-SESSION durability of the persisted MinHash index: session A
builds and exits; a genuinely fresh session B (separate JVM) re-attaches
the artifact read-only and probes it. Proves the index is durable state
on disk, not same-session lineage — and that the re-attached table keeps
its bucket layout (probe joins it in place, no index-side shuffle)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION_A = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", {wh!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from dbt_on_snowflake_spark.operators.dedup import build_minhash_index
corpus = pd.DataFrame({{
    "doc_id": [1, 2],
    "text": [" ".join(f"w{{i}}" for i in range(30)),
             " ".join(f"z{{i}}" for i in range(30))],
}})
build_minhash_index(
    spark, spark.createDataFrame(corpus), index_table="mh_durable_idx"
)
spark.stop()
print("A_DONE")
"""

_SESSION_B = """
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", {wh!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from dbt_on_snowflake_spark.operators.dedup import (
    attach_minhash_index, dedup_incremental_candidates,
)
# fresh in-memory catalog: the table must NOT be known yet, or this
# session isn't actually fresh
assert not spark.catalog.tableExists("mh_durable_idx")
attach_minhash_index(spark, "mh_durable_idx")
batch = spark.createDataFrame(pd.DataFrame({{
    "doc_id": [10],
    "text": [" ".join(f"w{{i}}" for i in range(30)) + " tail"],
}}))
cand = dedup_incremental_candidates(spark, batch, "mh_durable_idx")
plan_buf = cand._sc._jvm.PythonSQLUtils.explainString(
    cand._jdf.queryExecution(), "formatted")
pairs = sorted((r.doc_a, r.doc_b) for r in cand.collect())
n_idx = spark.table("mh_durable_idx").select("doc_id").distinct().count()
print("B_RESULT " + json.dumps({{
    "pairs": pairs,
    "n_idx_docs": n_idx,
    "bucketed_scan": "Bucketed: true" in plan_buf,
}}))
spark.stop()
"""


def _run(code: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def test_index_survives_across_sessions(tmp_path):
    wh = str(tmp_path / "warehouse")
    a = _run(_SESSION_A.format(repo=REPO, wh=wh))
    assert "A_DONE" in a
    b = _run(_SESSION_B.format(repo=REPO, wh=wh))
    line = next(l for l in b.splitlines() if l.startswith("B_RESULT "))
    res = json.loads(line.removeprefix("B_RESULT "))
    # the near-dup of corpus doc 1 is found purely from the on-disk index
    assert [tuple(p) for p in res["pairs"]] == [(1, 10)]
    assert res["n_idx_docs"] == 2  # read-only probe: the index did not grow
    assert res["bucketed_scan"]  # re-attached table kept its bucket layout


_SESSION_A_PRUNED = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", {wh!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from dbt_on_snowflake_spark.operators.dedup import build_minhash_index_pruned
corpus = pd.DataFrame({{
    "doc_id": [1, 2],
    "text": [" ".join(f"w{{i}}" for i in range(30)),
             " ".join(f"z{{i}}" for i in range(30))],
}})
build_minhash_index_pruned(
    spark, spark.createDataFrame(corpus), index_table="mh_durable_pp"
)
spark.stop()
print("A_DONE")
"""

_SESSION_B_PRUNED = """
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", {wh!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from dbt_on_snowflake_spark.operators.dedup import (
    attach_minhash_index_pruned, dedup_incremental_candidates_pruned,
)
assert not spark.catalog.tableExists("mh_durable_pp")
attach_minhash_index_pruned(spark, "mh_durable_pp")
batch = spark.createDataFrame(pd.DataFrame({{
    "doc_id": [10],
    "text": [" ".join(f"w{{i}}" for i in range(30)) + " tail"],
}}))
cand = dedup_incremental_candidates_pruned(spark, batch, "mh_durable_pp")
plan_buf = cand._sc._jvm.PythonSQLUtils.explainString(
    cand._jdf.queryExecution(), "formatted")
pairs = sorted((r.doc_a, r.doc_b) for r in cand.collect())
n_idx = spark.table("mh_durable_pp").select("doc_id").distinct().count()
print("B_RESULT " + json.dumps({{
    "pairs": pairs,
    "n_idx_docs": n_idx,
    "partition_filtered": "band_part" in plan_buf,
}}))
spark.stop()
"""


def test_pruned_index_survives_across_sessions(tmp_path):
    """The partitioned+bucketed index layout re-attaches in a fresh JVM
    (DDL + MSCK partition discovery) and the probe still partition-
    prunes — same durability contract as the flat layout."""
    wh = str(tmp_path / "warehouse")
    a = _run(_SESSION_A_PRUNED.format(repo=REPO, wh=wh))
    assert "A_DONE" in a
    b = _run(_SESSION_B_PRUNED.format(repo=REPO, wh=wh))
    line = next(l for l in b.splitlines() if l.startswith("B_RESULT "))
    res = json.loads(line.removeprefix("B_RESULT "))
    assert [tuple(p) for p in res["pairs"]] == [(1, 10)]
    assert res["n_idx_docs"] == 2
    assert res["partition_filtered"]


_PQ_SERVE = """
# Serve ADC for a fixed query vector purely from the persisted tables:
# the SAME serve kernels in both sessions, so equal output proves the
# artifact (not session lineage) carries the state. query_id -1 matches
# no vec_id, so every code row is scored.
from pyspark.sql import functions as F
from dbt_on_snowflake_spark.operators.similarity import (
    _adc_score_arrow, _qlut_rows,
)
entries = sorted(
    (int(r["label"]), list(r["v"]))
    for r in spark.table("pq_durable_cb").collect()
)
qv = [float(i % 7) for i in range(16)]
codes = spark.table("pq_durable_codes").select("vec_id", "bests")
scored = _adc_score_arrow(
    codes, _qlut_rows([{"vec_id": -1, "v": qv}], entries), k=30
).orderBy(F.col("approx_dot_scaled").desc(), "neighbor_id")
result = [(r.neighbor_id, r.approx_dot_scaled) for r in scored.collect()]
"""


def test_pq_index_survives_sessions(tmp_path):
    """build_pq_index in session A; a fresh JVM attaches the codebook +
    label-partitioned codes via attach_pq_index and serves ADC — the
    ranked output matches session A's bit for bit."""
    wh = str(tmp_path / "wh_pq")
    header = (
        "import sys, json\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "    .config('spark.sql.shuffle.partitions', '4')\n"
        f"    .config('spark.sql.warehouse.dir', {wh!r})\n"
        "    .config('spark.ui.enabled', 'false')\n"
        "    .getOrCreate())\n"
    )
    build = (
        "from dbt_on_snowflake_spark.operators.similarity import build_pq_index\n"
        "rows = [(i, i % 3, [float((i * j) % 5) for j in range(16)])\n"
        "        for i in range(30)]\n"
        "e = spark.createDataFrame(rows,"
        " 'vec_id long, label long, v array<double>')\n"
        "build_pq_index(spark, e, codebook_table='pq_durable_cb',\n"
        "               codes_table='pq_durable_codes')\n"
    )
    attach = (
        "assert not spark.catalog.tableExists('pq_durable_codes')\n"
        "from dbt_on_snowflake_spark.operators.similarity import attach_pq_index\n"
        "attach_pq_index(spark, codebook_table='pq_durable_cb',\n"
        "                codes_table='pq_durable_codes')\n"
    )
    a = _run(header + build + _PQ_SERVE
             + "\nprint('A_RESULT ' + json.dumps(result))\nspark.stop()\n")
    b = _run(
        header + attach + _PQ_SERVE
        + "\nn_parts = spark.table('pq_durable_codes')"
        ".select('label').distinct().count()\n"
        "print('B_RESULT ' + json.dumps("
        "{'result': result, 'n_parts': n_parts}))\nspark.stop()\n"
    )
    import json as _json

    a_res = [
        tuple(x)
        for x in _json.loads(a.split("A_RESULT ", 1)[1].strip().splitlines()[0])
    ]
    b_payload = _json.loads(b.split("B_RESULT ", 1)[1].strip().splitlines()[0])
    b_res = [tuple(x) for x in b_payload["result"]]
    assert a_res == b_res and len(a_res) == 30
    assert b_payload["n_parts"] == 3  # partition layout recovered


def test_fingerprinted_suffix_stable_across_sessions(tmp_path):
    """The fingerprinted index suffix (r11: testdata.index_suffix keys
    build-once table names on the corpus (path, size, mtime) listing)
    must be DETERMINISTIC across JVMs — same files => same names, so a
    fresh session re-attaches the tables a prior session built instead
    of rebuilding under a different name; and it must ROTATE when the
    corpus file changes (the staleness contract the naming exists
    for)."""
    import shutil

    from tests.conftest import SF_SMOKE

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copyfile(
        os.path.join(SF_SMOKE, "embeddings.parquet"),
        os.path.join(corpus, "embeddings.parquet"),
    )
    wh = str(tmp_path / "wh_fp")
    header = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        f"    .config('spark.sql.warehouse.dir', {wh!r})\n"
        "    .config('spark.ui.enabled', 'false')\n"
        "    .getOrCreate())\n"
        "from dbt_on_snowflake_spark.testdata import index_suffix\n"
        f"print('SUFFIX ' + index_suffix(spark, {corpus!r}, 'pq', 'embeddings'))\n"
        "spark.stop()\n"
    )
    a = _run(header).split("SUFFIX ", 1)[1].strip().splitlines()[0]
    b = _run(header).split("SUFFIX ", 1)[1].strip().splitlines()[0]
    assert a == b  # fresh JVM derives the same table names

    # corpus regenerated in place -> the fingerprint half rotates,
    # the family (path8) half stays
    import pandas as pd

    pd.read_parquet(os.path.join(corpus, "embeddings.parquet")).head(
        100
    ).to_parquet(os.path.join(corpus, "embeddings.parquet"), index=False)
    c = _run(header).split("SUFFIX ", 1)[1].strip().splitlines()[0]
    assert c != a
    assert c.split("_")[0] == a.split("_")[0]


def test_index_suffix_algo_token_rotates_fingerprint_half(spark):
    """An ``algo`` version bump rotates the FINGERPRINT half while the
    family half stays — so a persistent warehouse's pre-change tables
    become superseded siblings the build-time GC sweep reclaims,
    instead of a tableExists hit serving an index built by the OLD
    algorithm under oracles that model the new one (r15 review
    finding 1: the Lloyd codebook upgrade vs a pre-r15 warehouse)."""
    from dbt_on_snowflake_spark.testdata import index_suffix
    from tests.conftest import SF_SMOKE

    plain = index_suffix(spark, SF_SMOKE, "pq", "embeddings")
    v1 = index_suffix(spark, SF_SMOKE, "pq", "embeddings", algo="lloyd1")
    v2 = index_suffix(spark, SF_SMOKE, "pq", "embeddings", algo="lloyd2")
    assert len({plain, v1, v2}) == 3
    assert (
        plain.split("_")[0] == v1.split("_")[0] == v2.split("_")[0]
    )
    # deterministic per (corpus, algo)
    assert v1 == index_suffix(
        spark, SF_SMOKE, "pq", "embeddings", algo="lloyd1"
    )


_SESSION_A_DELETED = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", {wh!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from dbt_on_snowflake_spark.operators.dedup import (
    build_minhash_index, minhash_index_delete,
)
corpus = pd.DataFrame({{
    "doc_id": [1, 2, 3],
    "text": [" ".join(f"w{{i}}" for i in range(30)),
             " ".join(f"z{{i}}" for i in range(30)),
             " ".join(f"w{{i}}" for i in range(30)) + " extra"],
}})
build_minhash_index(
    spark, spark.createDataFrame(corpus), index_table="mh_durable_del"
)
minhash_index_delete(
    spark,
    spark.createDataFrame(pd.DataFrame({{"doc_id": [1]}})),
    index_table="mh_durable_del",
)
spark.stop()
print("A_DONE")
"""

_SESSION_B_DELETED = """
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", {wh!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from dbt_on_snowflake_spark.operators.dedup import (
    attach_minhash_index, dedup_incremental_candidates,
)
assert not spark.catalog.tableExists("mh_durable_del")
assert not spark.catalog.tableExists("mh_tombstones_mh_durable_del")
attach_minhash_index(spark, "mh_durable_del")
# probe with a near-dup of BOTH doc 1 (deleted) and doc 3 (live)
batch = spark.createDataFrame(pd.DataFrame({{
    "doc_id": [10],
    "text": [" ".join(f"w{{i}}" for i in range(30)) + " tail"],
}}))
cand = dedup_incremental_candidates(spark, batch, "mh_durable_del")
pairs = sorted((r.doc_a, r.doc_b) for r in cand.collect())
print("B_RESULT " + json.dumps({{
    "pairs": pairs,
    "tombstones_attached":
        spark.catalog.tableExists("mh_tombstones_mh_durable_del"),
}}))
spark.stop()
"""


def test_deleted_docs_stay_deleted_across_sessions(tmp_path):
    """The r12-advice #1 (medium) regression: session A deletes doc 1
    from a persisted index; session B (fresh JVM, empty catalog)
    re-attaches via attach_minhash_index and probes. Without the
    tombstone re-attach the probe would resurrect doc 1 — the gate must
    hold purely from the on-disk artifact."""
    wh = str(tmp_path / "warehouse")
    a = _run(_SESSION_A_DELETED.format(repo=REPO, wh=wh))
    assert "A_DONE" in a
    b = _run(_SESSION_B_DELETED.format(repo=REPO, wh=wh))
    line = next(l for l in b.splitlines() if l.startswith("B_RESULT "))
    res = json.loads(line.removeprefix("B_RESULT "))
    assert res["tombstones_attached"] is True
    # doc 3 (the live near-dup) is found; deleted doc 1 is NOT
    assert [tuple(p) for p in res["pairs"]] == [(3, 10)]
