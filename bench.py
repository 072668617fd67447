"""Benchmark harness: the headline queries (``headline=True`` in the
registry) at $SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata directory)
on local[$SPARK_GRAFT_CPUS]. Each run executes the whole plan into the
noop sink: full distributed execution, no driver-side collect.

Protocol. One warm pass runs every query once (JIT, file listing and any
``ensure_*`` index build happen here, under the index builds' own job
groups), then three timing rounds run every query once each, INTERLEAVED
round-robin: run 1 of every query, then run 2 of every query, then run 3.
A query's time is the minimum of its three runs. Interleaving matters on
a shared VM: contention spikes last seconds, so back-to-back runs of one
query can all land in the same spike, while round-robin spreads a spike
over single runs of different queries, which the minimum then discards.

STDOUT carries exactly one compact JSON line (``stdout_record``; about
1.3 KB for 26 queries, so it survives a 2 KB tail capture):
``metric``, ``value`` (the sum of the per-query minima, seconds),
``unit``, ``queries`` (name -> seconds), ``sf``, and the run's own
description: ``cpus`` (the session's ``defaultParallelism``), ``master``
and ``jit_ms`` (the JVM's total JIT compilation time when the timing
rounds end). ``stages`` and ``cpu_s`` are arrays aligned with
``sorted(queries)``:

- ``stages[i]``: stages the query scheduled in the warm pass, counted
  through its job group, a noise-free plan-shape fingerprint.
- ``cpu_s[i]``: the minimum over the three timed runs of the summed
  ``executorCpuTime`` of the run's job-group stages. It counts executor
  task CPU only: not driver-side Python, not the JVM's JIT compiler
  threads, not stages skipped by AQE reuse.

STDERR carries one JSON detail line: every run's time in interleaved
order (``runs``), ``stages_by_name``, ``cpu_s_by_name`` and every run's
CPU reading (``cpu_runs``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_on_snowflake_spark.registry import all_queries
from dbt_on_snowflake_spark.session import get_spark


def _group_cpu_ns(sc, tracker, store, group: str) -> int:
    """Summed executorCpuTime (ns) over every stage of a job group.
    Read immediately after the run so statusStore retention (default
    1000 stages) cannot evict early queries' stages; skipped/reused AQE
    stages without a live attempt are simply not counted."""
    total = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                total += store.lastStageAttempt(sid).executorCpuTime()
            except Exception:
                pass  # stage skipped (AQE reuse) or evicted
    return total


def stdout_record(
    timings: dict[str, float],
    stages: dict[str, int],
    cpu: dict[str, float],
    sf: str,
    *,
    cpus: int,
    master: str,
    jit_ms: int,
) -> dict:
    """The compact STDOUT record: totals plus per-query arrays aligned
    with sorted(timings), and the run's own description."""
    names = sorted(timings)
    return {
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {n: timings[n] for n in names},
        # aligned with sorted(queries) — see module docstring
        "stages": [stages[n] for n in names],
        "cpu_s": [cpu[n] for n in names],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "master": master,
        "jit_ms": jit_ms,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    sc = spark.sparkContext

    headline = {n: q for n, q in all_queries().items() if q.headline}
    names = sorted(headline)

    # Warm pass (JIT + file listing), instrumented: run each query under
    # its own job group and count the stages it scheduled — a cheap,
    # noise-free plan-shape fingerprint recorded alongside the timings.
    stages: dict[str, int] = {}
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for name in names:
        sc.setJobGroup(f"bench:{name}", f"warm {name}")
        try:
            df = headline[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        n_stages = 0
        for job_id in tracker.getJobIdsForGroup(f"bench:{name}"):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                n_stages += len(info.stageIds)
        stages[name] = n_stages

    # 3 interleaved timing rounds; each run under its own job group so
    # its executor-CPU total can be read back per run.
    runs: dict[str, list[float]] = {n: [] for n in names}
    cpu_runs: dict[str, list[float]] = {n: [] for n in names}
    for r in range(3):
        for name in names:
            group = f"bench:{name}:t{r}"
            sc.setJobGroup(group, f"time {name} run {r}")
            t0 = time.perf_counter()
            try:
                df = headline[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            finally:
                sc.setJobGroup(None, None)
            runs[name].append(round(time.perf_counter() - t0, 3))
            cpu_runs[name].append(
                round(_group_cpu_ns(sc, tracker, store, group) / 1e9, 3)
            )

    jit_ms = (
        sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        .getTotalCompilationTime()
    )
    timings = {n: min(r) for n, r in runs.items()}
    cpu = {n: min(r) for n, r in cpu_runs.items()}
    print(
        json.dumps(
            {
                "runs": runs,
                "run_order": "interleaved",
                "stages_by_name": stages,
                "cpu_s_by_name": cpu,
                "cpu_runs": cpu_runs,
            }
        ),
        file=sys.stderr,
    )
    print(
        json.dumps(
            stdout_record(
                timings,
                stages,
                cpu,
                sf,
                cpus=sc.defaultParallelism,
                master=sc.master,
                jit_ms=jit_ms,
            )
        )
    )


if __name__ == "__main__":
    main()
