"""The benchmark's workloads.

A workload is a fixed *pass* of operations that ``run.py`` repeats in a
closed loop (one operation in flight). ``pass_ops()`` returns one pass;
the workload seed only permutes the order inside a pass and picks the
ingest batch and delete sets. Every call into a package layer goes
through ``Tracer.call``, so the traced run can split an operation by
layer; untraced runs execute exactly the same calls.

- ``read``: executor-bound batch queries, each written to the noop sink,
  shuffled with persisted-index serves, each collected to the client.
  Kernel, shuffle and fusion changes show through the batch queries;
  driver-side construction and scheduling changes through the serves.
- ``write``: the write path. BM25 index appends, deletes and
  fold+compaction, each followed by a serve, plus the reference's dbt
  job (tastybytes run + source tests). A change that moves work from
  serve time to write time, or that adds per-node overhead to the
  engine, shows here.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass
from functools import partial
from typing import Callable

ANALYTIC_QUERIES = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_volume",
    "q17_small_quantity_revenue",
    "j1_orders_denorm",
    "a1_loyalty_metrics",
    "asof_last_order_before_event",
    "t_events_hourly",
    "dedup_exact",
    "dedup_minhash_lsh",
)
# The serves whose index families set-up builds in a few seconds: BM25
# text (lexical and hybrid) and PQ (filtered ADC shortlist + exact
# rerank). The gated post-delete BM25 serve runs in ``write``.
SERVE_QUERIES = (
    "text_bm25_topk_indexed",
    "retrieval_hybrid_rrf_indexed",
    "ann_filtered_rerank_indexed",
)
TASTY_NODES = 11
TASTY_SOURCE_TESTS = 54
APPEND_DOCS = 50
DELETE_DOCS = 25
INDEX_PREFIX = "bm25_"
INDEX_SUFFIX = "perfbench"


@dataclass
class Op:
    """One closed-loop operation. ``fn`` runs it and returns what
    ``check`` needs; ``check`` runs after the timed window and returns
    None when the result is correct, else the reason it is not."""

    name: str
    kind: str  # "read" or "write"
    family: str  # "analytic", "serve", "ingest" or "pipeline"
    fn: Callable[[], object]
    check: Callable[[object], str | None] | None = None
    fresh: bool = False  # a serve that must reflect the append before it


def _rows(tbl):
    """Order-insensitive canonical form of an Arrow result: the column
    names and the multiset of rows, normalized the way the repository's
    oracle harness does (tests/oracle_harness.py)."""
    from oracle_harness import _rows_from_arrow

    cols, rows = _rows_from_arrow(tbl)
    return cols, Counter(rows)


def compare(got, expected) -> str | None:
    """None when Arrow table ``got`` equals canonical ``expected``."""
    cols, rows = _rows(got)
    if cols != expected[0]:
        return f"columns {cols} != {expected[0]}"
    n, m = rows.total(), expected[1].total()
    if n != m:
        return f"{n} rows != {m}"
    bad = (rows - expected[1]).total()
    return f"{bad}/{n} rows differ" if bad else None


def oracle_rows(data_dir: str, sql: str):
    """Canonical rows of a DuckDB oracle query over ``data_dir``, cached
    next to the data: both are fixed, and some oracles take seconds. The
    cache key covers the SQL, the DuckDB version and the source of the
    harness that normalizes the rows, so a checkout with another
    normalization never reads rows normalized by this one."""
    import hashlib
    import pickle

    import duckdb
    import oracle_harness

    key = hashlib.sha256(sql.encode())
    key.update(duckdb.__version__.encode())
    with open(oracle_harness.__file__, "rb") as f:
        key.update(f.read())
    path = os.path.join(data_dir + ".oracles", key.hexdigest()[:20] + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = oracle_harness.duckdb_conn(data_dir)
    try:
        rows = _rows(con.execute(sql).fetch_arrow_table())
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.{os.getpid()}", "wb") as f:
        pickle.dump(rows, f)
    os.replace(f"{path}.{os.getpid()}", path)
    return rows


class Workload:
    def __init__(self, spark, data_dir: str, run_dir: str, tracer, rng: random.Random):
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.tr = tracer
        self.rng = rng

    def setup(self) -> None:
        """One-time work before the measured passes (index builds)."""

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def final_checks(self) -> list[str]:
        """Checks of the state the measured passes left behind."""
        return []

    def report(self) -> dict:
        """Workload-specific end-to-end figures for the report."""
        return {}

    def _execute(self, build: Callable, sink: str):
        """Build, plan and execute one query: ``sink`` is "noop" (write to
        the noop sink) or "arrow" (collect to the client). The explicit
        planning call runs only when tracing: ``toArrow`` reuses the
        planned execution, the noop write plans its own command."""
        tr = self.tr
        df = tr.call("operators.build", build)
        if tr.enabled:
            tr.call("catalyst.plan", lambda: df._jdf.queryExecution().executedPlan())
        if sink == "noop":
            return tr.call("spark.exec", lambda: df.write.format("noop").mode("overwrite").save())
        return tr.call("spark.exec", df.toArrow)


class Read(Workload):
    """Batch queries and indexed serves, shuffled together in each pass.

    Batch queries run at the noop sink; after the timed window each is
    collected once and checked against its DuckDB oracle. Every serve is
    collected and checked. The persisted indexes are built
    during set-up by the first construction of each served query."""

    def __init__(self, *a):
        super().__init__(*a)
        from dbt_on_snowflake_spark.registry import all_queries

        self.queries = all_queries()
        self.expected = {
            n: oracle_rows(self.data_dir, self.queries[n].oracle)
            for n in ANALYTIC_QUERIES + SERVE_QUERIES
        }

    def _query(self, name: str, sink: str):
        return self._execute(partial(self.queries[name].fn, self.spark, self.data_dir), sink)

    def setup(self) -> None:
        for n in SERVE_QUERIES:
            self.tr.call("testdata.ensure_index", self.queries[n].fn, self.spark, self.data_dir)

    def pass_ops(self) -> list[Op]:
        ops = [Op(n, "read", "analytic", partial(self._query, n, "noop")) for n in ANALYTIC_QUERIES]
        ops += [
            Op(n, "read", "serve", partial(self._query, n, "arrow"), partial(compare, expected=self.expected[n]))
            for n in SERVE_QUERIES
        ]
        self.rng.shuffle(ops)
        return ops

    def final_checks(self) -> list[str]:
        """Collect each batch query once and check it against its oracle:
        the timed passes write batch queries to the noop sink."""
        problems = []
        for n in ANALYTIC_QUERIES:
            try:
                diff = compare(self._query(n, "arrow"), self.expected[n])
            except Exception as exc:  # noqa: BLE001 — one failed check, not the run
                diff = f"raised {type(exc).__name__}: {exc}"
            if diff:
                problems.append(f"{n}: {diff}")
        return problems


def _dir_files(root: str, keep: Callable[[str], bool]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of the files under ``root``'s top-level
    entries whose name passes ``keep``."""
    out = {}
    for entry in os.listdir(root):
        if not keep(entry):
            continue
        for d, _, files in os.walk(os.path.join(root, entry)):
            for f in files:
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


class Write(Workload):
    """BM25 index maintenance and the reference dbt job.

    Set-up builds the index from half of the documents. Each pass then
    appends a batch from the documents not in the index, serves, deletes
    a tombstone set, serves through the delete gate, folds the
    tombstones and compacts, and serves again; deleted documents become
    appendable again after the fold, so every pass does the same amount
    of work. Each serve is checked against the DuckDB BM25 oracle over
    the documents live at that point, and the last one against a serve
    from an index built from scratch over the surviving documents."""

    def __init__(self, *a):
        super().__init__(*a)
        import pyarrow.parquet as pq

        from dbt_on_snowflake_spark.tastybytes import fixtures

        tasty_dir = os.path.join(self.run_dir, "tasty")
        self.mart_rows = _expected_mart_rows(fixtures.generate(tasty_dir))
        os.environ["TASTY_DATA_DIR"] = tasty_dir

        docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet"), columns=["doc_id", "text"])
        self.text_bytes = dict(zip(docs["doc_id"].to_pylist(), (len(t.encode()) for t in docs["text"].to_pylist())))
        ids = sorted(self.text_bytes)
        self.rng.shuffle(ids)
        self.live = set(ids[: len(ids) // 2])
        self.pool = set(ids[len(ids) // 2 :])
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        self.tables = {
            "stats_table": f"{INDEX_PREFIX}stats_{INDEX_SUFFIX}",
            "postings_table": f"{INDEX_PREFIX}postings_{INDEX_SUFFIX}",
            "doclen_table": f"{INDEX_PREFIX}doclen_{INDEX_SUFFIX}",
        }
        self._oracle_cache: dict[frozenset, tuple] = {}
        self._last_serve = None
        self._tasty = None

    # -- index

    def _docs(self, ids):
        from dbt_on_snowflake_spark.testdata import table
        from pyspark.sql import functions as F

        return table(self.spark, self.data_dir, "documents").filter(F.col("doc_id").isin(sorted(ids)))

    def _note_index(self):
        if self.tr.enabled:
            files = _dir_files(self.warehouse, lambda e: e.startswith(INDEX_PREFIX))
            self.tr.note("index.disk", files=len(files), bytes=sum(s for s, _ in files.values()))

    def setup(self) -> None:
        from dbt_on_snowflake_spark.operators import textops

        self.tr.call("index.build", textops.build_text_index, self.spark, self._docs(self.live), **self.tables)
        self._note_index()

    def _append(self, ids):
        from dbt_on_snowflake_spark.operators import textops

        self.tr.call("index.append", textops.text_index_append, self.spark, self._docs(ids), **self.tables)
        self._note_index()

    def _delete(self, ids):
        from dbt_on_snowflake_spark.operators import textops

        ids_df = self._docs(ids).select("doc_id")
        self.tr.call("index.delete", textops.text_index_delete, self.spark, ids_df, **self.tables)
        self._note_index()

    def _fold_compact(self):
        from dbt_on_snowflake_spark.engine.index_delete import fold_tombstone_families
        from dbt_on_snowflake_spark.engine.index_maintenance import compact_index_tables

        _, skipped = self.tr.call("index.fold", fold_tombstone_families, self.spark)
        if skipped:
            raise RuntimeError(f"fold skipped {skipped}")
        _, skipped, _ = self.tr.call("index.compact", compact_index_tables, self.spark)
        if skipped:
            raise RuntimeError(f"compaction skipped {skipped}")
        self._note_index()

    def _serve(self, tables=None):
        from dbt_on_snowflake_spark.operators import textops

        t = tables or self.tables
        build = partial(
            textops.bm25_topn_indexed,
            self.spark,
            self.data_dir,
            textops.BM25_TOP_N,
            tables=(t["stats_table"], t["postings_table"], t["doclen_table"]),
        )
        result = self._execute(build, "arrow")
        if tables is None:
            self._last_serve = result
        return result

    def _expected(self, live: frozenset):
        if live not in self._oracle_cache:
            from dbt_on_snowflake_spark.operators import textops

            ids = ",".join(str(i) for i in sorted(live))
            src = f"(SELECT * FROM documents WHERE doc_id IN ({ids}))"
            sql = f"WITH {textops.bm25_ranked_cte(textops.BM25_TOP_N, docs_src=src)} SELECT doc_id, score, rank FROM b_ranked"
            self._oracle_cache[live] = oracle_rows(self.data_dir, sql)
        return self._oracle_cache[live]

    def _serve_op(self, fresh: bool = False) -> Op:
        live = frozenset(self.live)
        return Op("serve", "read", "ingest", self._serve, lambda got: compare(got, self._expected(live)), fresh)

    def _ingest_ops(self) -> list[Op]:
        batch = set(self.rng.sample(sorted(self.pool), APPEND_DOCS))
        self.pool -= batch
        self.live |= batch
        ops = [Op("append", "write", "ingest", partial(self._append, batch)), self._serve_op(fresh=True)]
        tomb = set(self.rng.sample(sorted(self.live), DELETE_DOCS))
        self.live -= tomb
        ops += [Op("delete", "write", "ingest", partial(self._delete, tomb)), self._serve_op()]
        self.pool |= tomb  # appendable again once the fold has removed them
        ops += [Op("fold_compact", "write", "ingest", self._fold_compact), self._serve_op()]
        return ops

    # -- dbt job

    def _run_project(self, root: str, target: str):
        from dbt_on_snowflake_spark.engine.project import Project
        from dbt_on_snowflake_spark.engine.runner import Runner

        tr = self.tr
        project = tr.call("engine.project.parse", Project, root, target=target)
        runner = Runner(self.spark, project)
        before = _dir_files(self.warehouse, lambda e: not e.startswith(INDEX_PREFIX)) if tr.enabled else None
        results = tr.call("engine.runner.run", runner.run)
        if tr.enabled:
            after = _dir_files(self.warehouse, lambda e: not e.startswith(INDEX_PREFIX))
            new = [p for p, v in after.items() if before.get(p) != v]
            tr.note(
                "engine.runner.nodes",
                node_s=sum(r.seconds for r in results),
                files_written=len(new),
                bytes_written=sum(after[p][0] for p in new),
            )
        return project, runner, results

    def _tasty_run(self):
        root = os.path.join(_package_dir(), "tastybytes")
        self._tasty = None
        project, runner, results = self._run_project(root, "dev")
        self._tasty = (project, runner)
        return [r.status for r in results]

    def _tasty_test(self):
        from dbt_on_snowflake_spark.engine.testing import TestRunner

        if self._tasty is None:
            raise RuntimeError("tastybytes run failed; nothing to test")
        project, runner = self._tasty
        results = self.tr.call("engine.testing.test", TestRunner(self.spark).run_source_tests, project, runner)
        self.tr.note("engine.testing.tests", tests=len(results))
        return [r.status for r in results]

    def pass_ops(self) -> list[Op]:
        groups = [
            self._ingest_ops(),
            [
                Op("tasty_run", "write", "pipeline", self._tasty_run, partial(_all_ok, "success", TASTY_NODES)),
                Op("tasty_test", "write", "pipeline", self._tasty_test, partial(_all_ok, "pass", TASTY_SOURCE_TESTS)),
            ],
        ]
        self.rng.shuffle(groups)
        return [op for g in groups for op in g]

    def final_checks(self) -> list[str]:
        from dbt_on_snowflake_spark.operators import textops

        problems = []
        if self._tasty is not None:
            _, runner = self._tasty
            rows = {m: self.spark.table(runner.resolve_ref(m)).count() for m in self.mart_rows}
            if rows != self.mart_rows:
                problems.append(f"mart row counts {rows} != {self.mart_rows}")
        ref = {k: v.replace(INDEX_SUFFIX, f"{INDEX_SUFFIX}_ref") for k, v in self.tables.items()}
        textops.build_text_index(self.spark, self._docs(self.live), **ref)
        if self._last_serve is None:
            problems.append("no serve completed")
        else:
            diff = compare(self._last_serve, _rows(self._serve(ref)))
            if diff:
                problems.append(f"final serve != from-scratch index serve: {diff}")
        return problems

    def report(self) -> dict:
        files = _dir_files(self.warehouse, lambda e: e.startswith(INDEX_PREFIX) and not e.endswith("_ref"))
        live_bytes = sum(self.text_bytes[i] for i in self.live)
        return {"index_space_amp": sum(s for s, _ in files.values()) / live_bytes}


def _expected_mart_rows(t: dict) -> dict[str, int]:
    """Mart row counts implied by the tastybytes fixture tables: every
    order line survives the inner joins of ``orders``; loyalty metrics
    has one row per known customer with an order; sales metrics has one
    row per location whose city has a truck."""
    oh, loc = t["order_header"], t["location"]
    customers = set(oh["customer_id"].dropna().astype(int)) & set(t["customer_loyalty"]["customer_id"])
    truck_cities = set(t["truck"]["primary_city"])
    return {
        "orders": len(t["order_detail"]),
        "customer_loyalty_metrics": len(customers),
        "sales_metrics_by_location": loc.loc[loc["city"].isin(truck_cities), "location_id"].nunique(),
    }


def _all_ok(status: str, n: int, got) -> str | None:
    if len(got) != n or any(s != status for s in got):
        return f"expected {n} x {status}, got {sorted(got)}"
    return None


def _package_dir() -> str:
    import dbt_on_snowflake_spark

    return os.path.dirname(dbt_on_snowflake_spark.__file__)


WORKLOADS = {"read": Read, "write": Write}
