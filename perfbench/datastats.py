"""Side-by-side statistics of benchmark input directories.

    python3 perfbench/datastats.py DIR [DIR ...]

Each DIR holds one ``<table>.parquet`` per table of the package's
testdata layout: a directory written by ``datagen.py`` (under
``.bench_build/perfbench/data/``) or any copy of the fixed testdata the
repository's tests run on. For each directory it prints row counts, the
document corpus's shape (tokens per document, vocabulary, duplicate
texts), the embedding corpus's shape (nearest-neighbour similarity and
label agreement) and the number of rows each of the ``read`` workload's
DuckDB oracles returns, so generated tables can be checked against the
tables the queries were written for.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def doc_stats(d: str) -> dict[str, float]:
    texts = pq.read_table(os.path.join(d, "documents.parquet"), columns=["text"])["text"].to_pylist()
    toks = [t.split() for t in texts]
    lens = np.array([len(t) for t in toks])
    vocab = Counter(w for t in toks for w in t)
    sets = Counter(frozenset(t) for t in toks)
    return {
        "docs.tokens_min": lens.min(),
        "docs.tokens_p50": float(np.median(lens)),
        "docs.tokens_mean": lens.mean(),
        "docs.tokens_max": lens.max(),
        "docs.vocabulary": len(vocab),
        "docs.top_word_share": vocab.most_common(1)[0][1] / lens.sum(),
        "docs.exact_dup_texts": len(texts) - len(set(texts)),
        "docs.same_token_set": sum(c - 1 for c in sets.values()),
    }


def vec_stats(d: str) -> dict[str, float]:
    t = pq.read_table(os.path.join(d, "embeddings.parquet"))
    x = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    labels = np.array(t["label"].to_pylist())
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    sim = x @ x.T
    np.fill_diagonal(sim, -np.inf)
    nn = sim.argmax(axis=1)
    same = labels[:, None] == labels[None, :]
    np.fill_diagonal(same, False)
    return {
        "vecs.dim": x.shape[1],
        "vecs.labels": len(set(labels.tolist())),
        "vecs.nn_cosine_mean": sim.max(axis=1).mean(),
        "vecs.nn_same_label": (labels[nn] == labels).mean(),
        "vecs.same_label_cosine_mean": sim[same].mean(),
        "vecs.other_label_cosine_mean": sim[~same & np.isfinite(sim)].mean(),
    }


def oracle_rows(d: str) -> dict[str, int]:
    from oracle_harness import duckdb_conn
    from workloads import ANALYTIC_QUERIES, SERVE_QUERIES

    from dbt_on_snowflake_spark.registry import all_queries

    queries = all_queries()
    con = duckdb_conn(d)
    try:
        return {
            f"oracle.{n}": con.execute(f"SELECT count(*) FROM ({queries[n].oracle})").fetchone()[0]
            for n in ANALYTIC_QUERIES + SERVE_QUERIES
        }
    finally:
        con.close()


def stats(d: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in sorted(f for f in os.listdir(d) if f.endswith(".parquet")):
        out[f"rows.{name[: -len('.parquet')]}"] = pq.read_metadata(os.path.join(d, name)).num_rows
    out.update(doc_stats(d))
    out.update(vec_stats(d))
    out.update(oracle_rows(d))
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    cols = [stats(d) for d in argv]
    print("| statistic | " + " | ".join(os.path.basename(os.path.normpath(d)) for d in argv) + " |")
    print("|---" * (len(argv) + 1) + "|")
    for key in cols[0]:
        cells = [c.get(key, "") for c in cols]
        print(f"| {key} | " + " | ".join(f"{v:.3g}" if isinstance(v, float) else str(v) for v in cells) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
