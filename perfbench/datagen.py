"""Deterministic benchmark tables in the package's testdata layout.

Writes one ``<table>.parquet`` file per name in
``dbt_on_snowflake_spark.testdata.TABLES`` with the same column names and
Arrow types as the TPC-H-ish testdata the registered queries and their
DuckDB oracles are written against. Values are drawn from fixed
distributions with a fixed seed, so every run of the benchmark sees the
same bytes; the workload seed only permutes operation order and picks
ingest splits (see ``workloads.py``).

Row counts follow ``sf`` like the testdata: lineitem = 6M x sf, orders =
1.5M x sf, customer = 150k x sf, events = 1M x sf, with the text and
vector corpora floored at 500 rows. ``datastats.py`` prints the
statistics that compare these tables with the fixed testdata.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "cold", "new")
PART_NOUN = ("ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "gizmo")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
WORDS = (
    "a the data spark table query row column value key join group order "
    "sort scan filter hash merge window stream batch vector part line "
    "customer small big fast slow agg"
).split()
EMBED_DIM = 64
N_LABELS = 10
# label signal in the embeddings: same-label cosine ~ LABEL_WEIGHT**2,
# which matches the testdata's weak clustering
LABEL_WEIGHT = 0.04
DUP_FRACTION = 0.05


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # near-duplicates, as in the testdata: a few docs repeat another doc's
    # text plus one token, so the MinHash/LSH query has pairs to find
    for i in rng.choice(n, int(n * DUP_FRACTION), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    x = LABEL_WEIGHT * centers[labels] + rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": vecs.cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All benchmark tables at scale ``sf``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(rng.choice(names, n_part), pa.string()),
            "p_brand": pa.array(
                [f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(
                _days("1995-01-01", "2001-08-01", n_ord, rng), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
            "l_shipdate": pa.array(
                _days("1995-01-02", "2001-11-04", n_li, rng), pa.timestamp("us")
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(
                rng.integers(0, max(int(15_000 * sf), 10), n_ev), pa.int64()
            ),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(
                np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)
            ),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(n_docs, rng)
    t["embeddings"] = _embeddings(n_vecs, rng)
    return t


def ensure_data(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once and return the
    directory, named after ``sf`` and a hash of this generator so a
    changed generator never reuses old tables. A half-written directory
    never becomes visible: files go to a staging directory that is
    renamed into place at the end."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(root, f"sf{sf:g}-{version}")
    if os.path.isdir(out):
        return out
    stage = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
    os.rename(stage, out)
    return out

