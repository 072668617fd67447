from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# isolate the test session's warehouse/metastore (derby is single-process;
# a concurrent CLI run must not contend with pytest)
os.environ.setdefault(
    "SPARK_WAREHOUSE_DIR", tempfile.mkdtemp(prefix="spark_wh_test_")
)

from dbt_on_snowflake_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@dataclass
class SparkJobs:
    """What a block launched: job ids, the ids of every stage those jobs
    hold, the names of the stages whose info the status store still
    keeps, ``actions`` — the SQL executions (one per DataFrame action,
    however many AQE stage jobs it splits into) that ran at least one
    job — and ``plans``, the formatted physical plan of every SQL
    execution of the block, oldest first (``plans.scans`` parses it)."""

    jobs: list[int] = field(default_factory=list)
    stages: list[int] = field(default_factory=list)
    stage_names: list[str] = field(default_factory=list)
    actions: int = 0
    plans: list[str] = field(default_factory=list)


def _sql_executions(spark, group: str) -> list:
    """SQL executions of job group ``group``, newest first. An execution
    takes its description from the job group's, and the block's
    executions are the newest ones, so walk back from the newest until
    the description changes."""
    store = spark._jsparkSession.sharedState().statusStore()
    end = store.executionsCount()
    out = []
    while end > 0:
        start = max(0, end - 64)
        chunk = store.executionsList(start, end - start)
        for i in range(chunk.size() - 1, -1, -1):
            e = chunk.apply(i)
            if e.description() != group:
                return out
            out.append(e)
        end = start
    return out


@contextmanager
def spark_jobs(spark):
    """Count the Spark jobs and stages the ``with`` body launches: the
    body runs under its own job group, whose jobs and stages are read
    back from the status store on exit."""
    sc = spark.sparkContext
    group = f"spark_jobs:{uuid.uuid4().hex}"
    seen = SparkJobs()
    sc.setJobGroup(group, group)
    try:
        yield seen
    finally:
        sc.setJobGroup(None, None)
        executions = _sql_executions(spark, group)
        seen.actions = sum(not e.jobs().isEmpty() for e in executions)
        seen.plans = [e.physicalPlanDescription() for e in executions[::-1]]
        tracker = sc.statusTracker()
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            seen.jobs.append(job_id)
            for s in info.stageIds:
                seen.stages.append(s)
                si = tracker.getStageInfo(s)
                if si is not None:
                    seen.stage_names.append(si.name)


def assert_index_collects(plans: list[str], frozen: str) -> None:
    """The construction-time collects of an index serve or append (the
    ``plans`` of a ``spark_jobs`` block): at least one reads the frozen
    index table whose name contains ``frozen``; none recomputes it (no
    ``Generate``, the posexplode of centroid/codebook training); and
    every corpus-parquet scan among them is the bounded query side, its
    ``vec_id``/``doc_id`` bound pushed to the scan."""
    from dbt_on_snowflake_spark.plans import scans

    assert plans, "no construction-time collect"
    assert not [p for p in plans if "Generate" in p]
    found = [s for p in plans for s in scans(p)]
    assert any(frozen in s.get("location", "") for s in found), found
    for s in found:
        for corpus, key in (("embeddings", "vec_id"), ("documents", "doc_id")):
            if f"{corpus}.parquet" in s.get("location", ""):
                assert f"LessThan({key}," in s.get("pushedfilters", ""), (
                    f"unbounded {corpus} scan: {s}"
                )
