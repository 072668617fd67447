"""Physical-plan introspection and assertions.

"The plan you'd want, not the first one that passed": these helpers make
plan properties testable — predicate pushdown reached the parquet scan,
column pruning narrowed ReadSchema, small dims broadcast, codegen covers
the hot path. tests/test_plans.py pins these properties for the headline
queries so a regression in plan shape fails CI, not just the bench.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections import Counter

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def scans(plan: str) -> list[dict[str, str]]:
    """Parse '(n) Scan parquet' blocks: location, PushedFilters, ReadSchema."""
    out = []
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if not b.startswith("Scan parquet"):
            continue
        item = {"op": "scan"}
        for key in ("Location", "PushedFilters", "ReadSchema"):
            m = re.search(rf"{key}: (.+)", b)
            if m:
                item[key.lower()] = m.group(1).strip()
        out.append(item)
    return out


def scan_for(plan: str, table: str) -> dict[str, str]:
    for s in scans(plan):
        if f"{table}.parquet" in s.get("location", ""):
            return s
    raise AssertionError(f"no parquet scan of {table} in plan")


def assert_pushed_filter(plan: str, table: str, fragment: str) -> None:
    s = scan_for(plan, table)
    assert fragment in s.get("pushedfilters", ""), (
        f"expected pushed filter {fragment!r} on {table}; "
        f"got {s.get('pushedfilters')}"
    )


def assert_read_columns(plan: str, table: str, max_columns: int) -> None:
    """Column pruning: the scan's ReadSchema has at most N fields."""
    s = scan_for(plan, table)
    schema = s.get("readschema", "")
    ncols = schema.count(":")
    assert 0 < ncols <= max_columns, (
        f"{table} scan reads {ncols} columns (> {max_columns}): {schema}"
    )


def final_plan(df: DataFrame) -> str:
    """Execute the query and return the post-execution plan — with AQE on,
    the pre-execution explain shows only `AdaptiveSparkPlan isFinalPlan=
    false`; runtime decisions (broadcast conversion, coalesced shuffles)
    are only visible after the plan is finalized by running it."""
    df.collect()
    return explain_str(df)


def scan_counts(df: DataFrame) -> Counter[str]:
    """Scan nodes per table (bare name, database dropped) in the EXECUTED
    plan tree. Runs the query, then reads the physical plan that ran —
    with AQE, the final plan it settled on. The tree prints one line per
    node, so a table read once counts once (the formatted explain prints
    every operator twice), and a reused exchange does not count again."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return Counter(
        m.group(1).rsplit(".", 1)[-1].strip("`")
        for m in re.finditer(r"\bFileScan \w+ ([^\s\[]+)\[", plan.toString())
    )


def broadcast_hints(df: DataFrame) -> int:
    """Number of explicit broadcast HINTS in the analyzed logical plan.

    A hint overrides the size threshold and AQE — fine for fixed-
    cardinality dims, a 100x-scale OOM for tables that grow with the
    data. Tests pin the hint count so an unconditional broadcast of an
    SF-growing table can't sneak back in."""
    s = explain_str(df, "extended")
    analyzed = s.split("== Analyzed Logical Plan ==")[1].split(
        "== Optimized Logical Plan =="
    )[0]
    return len(re.findall(r"ResolvedHint.*(?:broadcast|BROADCAST)", analyzed))


def count_broadcast_joins(plan: str) -> int:
    return len(re.findall(r"BroadcastHashJoin", plan))


def count_shuffles(plan: str) -> int:
    """Shuffle exchanges (excluding broadcast exchanges).

    Formatted mode names each shuffle exchange as a `(n) Exchange` detail
    block (broadcast ones are `(n) BroadcastExchange`, so they never
    match); simple/extended modes inline `Exchange hashpartitioning`.
    Counting only the simple-mode spelling silently returned 0 on
    formatted plans — and made every `<= N` shuffle assertion pass
    vacuously."""
    n = len(re.findall(r"^\(\d+\) Exchange$", plan, re.MULTILINE))
    if n:
        return n
    return len(
        re.findall(r"\bExchange (?:hash|range)partitioning", plan)
    )


def codegen_subtrees(spark, build_df) -> int:
    """Number of whole-stage-codegen subtrees for the query produced by
    ``build_df()``. AQE-wrapped plans don't expose codegen stages until
    executed, so the query is planned once with AQE off (codegen structure
    is the same; AQE only re-partitions between stages)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        m = re.search(
            r"Found (\d+) WholeStageCodegen subtrees",
            explain_str(build_df(), "codegen"),
        )
        return int(m.group(1)) if m else 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
