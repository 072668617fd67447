"""The bench STDOUT record: one compact JSON line that describes its own
run. Spark-free — it drives ``bench.stdout_record`` with synthetic
readings."""

from __future__ import annotations

import json

from bench import stdout_record


def test_stdout_record_is_compact_and_self_describing():
    # 26 headliners at the longest real name length (29 characters),
    # with worst-case widths for every reading
    names = [f"headline_query_{i:02d}_{'x' * 6}_long" for i in range(26)]
    assert all(len(n) == 29 for n in names)
    timings = {n: 123.456 for n in names}
    stages = {n: 123 for n in names}
    cpu = {n: 12.345 for n in names}
    rec = stdout_record(
        timings,
        stages,
        cpu,
        "0.1",
        cpus=64,
        master="local[64]",
        jit_ms=1234567,
    )
    line = json.dumps(rec)
    assert "\n" not in line
    assert len(line.encode()) < 2048, len(line)
    assert json.loads(line) == rec
    for key in (
        "metric", "value", "unit", "queries", "stages", "cpu_s", "sf",
        "cpus", "master", "jit_ms",
    ):
        assert key in rec, key
    assert (rec["cpus"], rec["master"], rec["jit_ms"]) == (
        64, "local[64]", 1234567
    )
    # the per-query arrays align with sorted(queries)
    assert list(rec["queries"]) == sorted(names)
    assert len(rec["stages"]) == len(rec["cpu_s"]) == 26
    assert rec["value"] == round(26 * 123.456, 3)
    assert rec["sf"] == 0.1
