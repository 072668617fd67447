"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The smoke tests start Spark at sf0.001 and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_tail_percentile_is_highest_with_ten_beyond():
    assert measure.tail_percentile(19) is None
    assert measure.tail_percentile(20) == 50
    assert measure.tail_percentile(100) == 90
    assert measure.tail_percentile(1000) == 99
    for n in range(20, 400):
        p = measure.tail_percentile(n)
        values = list(range(n))
        beyond = sum(v > measure.nearest_rank(values, p) for v in values)
        assert beyond >= measure.TAIL_SAMPLES
        next_beyond = sum(v > measure.nearest_rank(values, p + 1) for v in values)
        assert next_beyond < measure.TAIL_SAMPLES


def test_summarize_reports_median_and_count():
    s = measure.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}
    s = measure.summarize([float(i) for i in range(100)])
    assert (s["tail_pct"], s["tail"], s["n"]) == (90, 89.0, 100)


class _FakeWorkload:
    def __init__(self):
        self.ran = []

    def _op(self, name, value):
        def fn():
            self.ran.append(name)
            if value is None:
                raise RuntimeError("boom")
            return value

        return Op(name, "read", "fake", fn, lambda got: None if got == "ok" else f"got {got}")

    def pass_ops(self):
        return [self._op("raises", None), self._op("wrong", "bad"), self._op("right", "ok")]


def test_failures_are_counted_and_do_not_abort_the_pass():
    w = _FakeWorkload()
    records = []
    run.run_pass(w, measure.Tracer(None, enabled=False), "measured", records)
    assert w.ran == ["raises", "wrong", "right"]
    run.check_records(records)
    errors = {r.op.name: r.error for r in records}
    assert errors["raises"].startswith("RuntimeError")
    assert errors["wrong"] == "got bad"
    assert errors["right"] is None
    assert run.latency(records, "read") == [records[2].seconds]


def test_freshness_needs_a_correct_serve_after_a_good_append():
    def rec(start, end, fresh, error=None):
        op = Op("x", "read", "ingest", lambda: None, fresh=fresh)
        return run.Record(op, "measured", start, end, None, error)

    records = [rec(0.0, 2.0, False), rec(2.0, 3.0, True), rec(3.0, 4.0, False),
               rec(4.0, 5.0, True, error="stale")]
    assert run.freshness(records) == [3.0]


def test_trace_overhead_pairs_each_traced_pass_with_its_neighbours():
    order = [("measured", 9.0), ("measured", 4.0), ("traced", 5.0), ("measured", 2.0),
             ("traced", 3.5), ("measured", 3.0)]
    assert run.trace_overhead(order) == [2.0, 1.0]
    assert run.trace_overhead([("measured", 9.0), ("traced", 5.0)]) == []


def test_metric_names_match_benchmark_json():
    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {
        k: unit for k, (unit, _) in run.PER_LAYER.items()
    }
    assert b["command"] == ["python3", "perfbench/run.py"]


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload,trace", [("read", 0), ("write", 1)])
def test_smoke_pass_at_sf0001(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    b = _benchmark_json()
    names = [m["name"] for m in b["per_layer" if trace else "end_to_end"]]
    assert list(result["metrics"]) == names
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
