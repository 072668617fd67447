"""spark-graft benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload read --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a fresh ``local[nproc]``
Spark session with its own warehouse, metastore, scratch and temp
directories under ``.bench_build/perfbench/``, builds the workload's
indexes, then runs whole passes of the workload: the first one always,
each further one only if it should end within ``--seconds``. One pass
takes more than half of the window ``BENCHMARK.json`` sets, so each run
measures exactly the first pass after set-up. Every result is checked
after the measured passes. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it (prefixed ``#``) describe the run. ``--trace 1`` alternates untraced
and traced passes and reports per-layer figures instead of end-to-end
ones. The exit code is 0 only when every operation succeeded and every
result was correct.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA_SF = 0.01
DRIVER_MEM_MB = 2048
# the workload's set-up (index builds) runs this many times, its tables
# dropped in between; setup_s takes the median
SETUP_REPEATS = 3

# end-to-end metric -> unit, the JSON metrics of --trace 0 (BENCHMARK.json).
# Wall times other than set-up are reported on the "#" lines only: pass_s
# spread up to 26% over ten seeds when the host's speed changed, more than
# any bound allows, and a run has only 3 to 13 reads, whose median moved
# 30-40% between seeds.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> (unit, the end-to-end figure it should move);
# read_p50_s, write_p50_s and freshness_p50_s are "#" line figures
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s"),
    "testdata.ensure_index_s": ("s", "setup_s"),
    "operators.build_s": ("s", "read_p50_s"),
    "operators.build_jobs": ("count", "read_p50_s"),
    "catalyst.plan_s": ("s", "read_p50_s"),
    "spark.exec_s": ("s", "read_p50_s"),
    "spark.jobs": ("count", "read_p50_s"),
    "spark.stages": ("count", "read_p50_s"),
    "spark.tasks": ("count", "pass_s"),
    "spark.idle_s": ("s", "read_p50_s"),
    "spark.executor_run_s": ("s", "pass_s"),
    "spark.executor_cpu_s": ("s", "cpu_s"),
    "spark.gc_s": ("s", "cpu_s"),
    "spark.input_bytes": ("B", "pass_s"),
    "spark.shuffle_read_bytes": ("B", "pass_s"),
    "spark.shuffle_write_bytes": ("B", "pass_s"),
    "spark.spill_bytes": ("B", "pass_s"),
    "index.build_s": ("s", "setup_s"),
    "index.append_s": ("s", "freshness_p50_s"),
    "index.delete_s": ("s", "write_p50_s"),
    "index.fold_s": ("s", "write_p50_s"),
    "index.compact_s": ("s", "write_p50_s"),
    "index.files": ("count", "read_p50_s"),
    "index.bytes": ("B", "read_p50_s"),
    "engine.project.parse_s": ("s", "write_p50_s"),
    "engine.runner.run_s": ("s", "write_p50_s"),
    "engine.runner.node_s": ("s", "write_p50_s"),
    "engine.testing.test_s": ("s", "pass_s"),
    "engine.testing.jobs_per_test": ("count", "pass_s"),
    "engine.table_format.files_written": ("count", "write_p50_s"),
    "engine.table_format.bytes_written": ("B", "write_p50_s"),
    "trace.overhead_s": ("s", "pass_s"),
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Driver heap: the default, capped at a quarter of physical RAM."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(DRIVER_MEM_MB, total_kb // 4096)


def source_digest() -> str:
    """Hash of the package sources, for runs outside a git checkout."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dbt_on_snowflake_spark")
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x not in ("__pycache__", "target"))
        for f in sorted(files):
            if f.endswith((".py", ".sql", ".yml")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def hermetic_env(run_dir: str) -> None:
    """Environment for the Spark JVM and its Python workers: the
    checkout on PYTHONPATH so UDF workers can import the package, and
    every directory Spark, Derby and Python write to inside the run."""
    for sub in ("warehouse", "derby", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "SPARK_DERBY_DIR": os.path.join(run_dir, "derby"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM, the spark-submit launcher included: no hsperfdata
        # files, temp files inside the run
        "JAVA_TOOL_OPTIONS": " ".join(
            o
            for o in (
                os.environ.get("JAVA_TOOL_OPTIONS"),
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            )
            if o
        ),
        "SPARK_GRAFT_CPUS": str(nproc()),
    }
    os.environ.update(env)


def start_spark():
    """The package's session, sized for this machine; its warehouse,
    metastore and scratch directories come from ``hermetic_env``."""
    from dbt_on_snowflake_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=nproc(),
        extra_conf={"spark.driver.memory": f"{driver_mem_mb()}m"},
    )


def drop_tables(spark) -> None:
    """Drop every table of the session's catalog, so that the next
    set-up builds its indexes again."""
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM behind it. The JVM outlives
    ``spark.stop()`` and exits only when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Record:
    """One executed operation."""

    __slots__ = ("op", "phase", "start", "end", "result", "error")

    def __init__(self, op, phase, start, end, result, error):
        self.op, self.phase = op, phase
        self.start, self.end = start, end
        self.result, self.error = result, error

    @property
    def seconds(self) -> float:
        return self.end - self.start


def run_pass(workload, tracer, phase: str, records: list) -> float:
    """Run one pass; returns its wall time. A failing operation is
    recorded and the pass goes on."""
    ops = workload.pass_ops()
    with tracer.span(f"pass:{phase}"):
        t0 = time.perf_counter()
        for op in ops:
            start = time.perf_counter()
            result = error = None
            with tracer.span(f"{op.family}/{op.name}", op=True):
                try:
                    result = op.fn()
                except Exception as exc:  # noqa: BLE001 — count it, keep going
                    error = f"{type(exc).__name__}: {exc}"[:500]
                    log(f"{op.name} failed:\n{traceback.format_exc()}")
            records.append(Record(op, phase, start, time.perf_counter(), result, error))
        return time.perf_counter() - t0


def check_records(records: list) -> None:
    for r in records:
        if r.error is None and r.op.check is not None:
            try:
                r.error = r.op.check(r.result)
            except Exception as exc:  # noqa: BLE001 — a broken result is a failure
                r.error = f"check raised {type(exc).__name__}: {exc}"
            if r.error:
                log(f"{r.op.name} ({r.phase}) incorrect: {r.error}")
        r.result = None


def latency(records: list, kind: str) -> list[float]:
    return [r.seconds for r in records if r.op.kind == kind and r.error is None]


def freshness(records: list) -> list[float]:
    """Append start -> end of the serve after it, when that serve was
    correct, i.e. reflected the appended documents."""
    out = []
    for prev, r in zip(records, records[1:]):
        if r.op.fresh and r.error is None and prev.error is None:
            out.append(r.end - prev.start)
    return out


def trace_overhead(order: list[tuple[str, float]]) -> list[float]:
    """For each traced pass between two untraced ones, in the run's
    (phase, seconds) pass order: its time minus their mean."""
    return [
        t - (a + b) / 2
        for (pa, a), (pt, t), (pb, b) in zip(order, order[1:], order[2:])
        if pt == "traced" and pa == pb == "measured"
    ]


def layer_metrics(tracer, overhead: list[float]) -> dict:
    """Per-layer figures from the spans: layers seen in traced passes
    are averaged per traced pass; set-up layers are the session start
    and the mean of the ``SETUP_REPEATS`` index set-ups."""
    from measure import self_times

    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def phase(s):
        while s is not None:
            if s.name.startswith("pass:") or s.name == "setup":
                return s.name
            s = by_id.get(s.parent)
        return None

    passes = [s for s in spans if s.name == "pass:traced"]
    n = max(len(passes), 1)
    in_pass = [s for s in spans if s.name != "pass:traced" and phase(s) == "pass:traced"]
    in_setup = [s for s in spans if phase(s) == "setup"]

    def layer_total(name: str, field=None) -> float:
        return sum(s.seconds if field is None else s.counts.get(field, 0)
                   for s in in_pass if s.name == name) / n

    def setup_total(name: str) -> float:
        return sum(s.seconds for s in in_setup if s.name == name)

    disk = [s for s in spans if s.name == "index.disk"]
    tests = sum(s.counts.get("tests", 0) for s in in_pass if s.name == "engine.testing.tests")
    test_jobs = sum(s.counts.get("jobs", 0) for s in in_pass if s.name == "engine.testing.test")
    m = {
        "session.get_spark_s": setup_total("session.get_spark"),
        "testdata.ensure_index_s": setup_total("testdata.ensure_index") / SETUP_REPEATS,
        "operators.build_s": layer_total("operators.build"),
        "operators.build_jobs": layer_total("operators.build", "jobs"),
        "catalyst.plan_s": layer_total("catalyst.plan"),
        "spark.exec_s": layer_total("spark.exec"),
        "spark.idle_s": layer_total("spark.exec", "idle_s"),
        "index.build_s": setup_total("index.build") / SETUP_REPEATS,
        "index.append_s": layer_total("index.append"),
        "index.delete_s": layer_total("index.delete"),
        "index.fold_s": layer_total("index.fold"),
        "index.compact_s": layer_total("index.compact"),
        "index.files": disk[-1].counts["files"] if disk else 0,
        "index.bytes": disk[-1].counts["bytes"] if disk else 0,
        "engine.project.parse_s": layer_total("engine.project.parse"),
        "engine.runner.run_s": layer_total("engine.runner.run"),
        "engine.runner.node_s": layer_total("engine.runner.nodes", "node_s"),
        "engine.testing.test_s": layer_total("engine.testing.test"),
        "engine.testing.jobs_per_test": test_jobs / tests if tests else 0,
        "engine.table_format.files_written": layer_total("engine.runner.nodes", "files_written"),
        "engine.table_format.bytes_written": layer_total("engine.runner.nodes", "bytes_written"),
        "trace.overhead_s": statistics.median(overhead),
    }
    # all Spark work of a traced pass, whichever layer launched it
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = sum(s.counts.get(key, 0) for s in in_pass) / n

    # each operation family's own split: the share of its wall time spent
    # constructing DataFrames, and its executor CPU per wall second
    families: dict[str, list[float]] = {}
    for op in in_pass:
        if "/" not in op.name:
            continue
        f = families.setdefault(op.name.split("/")[0], [0, 0.0, 0.0, 0.0])
        f[0] += 1
        f[1] += op.seconds
        for s in in_pass:
            if s.op_id == op.id and s is not op:
                f[2] += s.seconds if s.name == "operators.build" else 0.0
                f[3] += s.counts.get("executor_cpu_s", 0.0)

    st = self_times(spans)
    table: dict[str, list[float]] = {}
    for s in in_pass:
        table.setdefault(s.name, [0.0, 0])
        table[s.name][0] += st[s.id] / n
        table[s.name][1] += 1
    return {"metrics": m, "self_time": table, "families": families, "passes": len(passes)}


def run(args) -> tuple[dict, list[str]]:
    """Run one workload; returns (result JSON, report lines)."""
    import measure
    import workloads

    run_dir = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    hermetic_env(run_dir)
    sys.path.insert(0, os.path.join(ROOT, "tests"))  # oracle_harness
    import datagen

    data_dir = datagen.ensure_data(os.path.join(BUILD, "data"), args.sf)
    rng = random.Random(args.seed)
    tracer = measure.Tracer(None, enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = start_spark()
                spark.range(1).collect()
            session_s = time.perf_counter() - t0
            tracer.spark = spark
            workload = workloads.WORKLOADS[args.workload](spark, data_dir, run_dir, tracer, rng)
            measure.reset_peak_rss()  # oracle checks above are not the program's memory
            builds = []
            for k in range(SETUP_REPEATS):
                if k:
                    drop_tables(spark)
                t0 = time.perf_counter()
                workload.setup()
                builds.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(builds)
        log(f"setup done: {setup_s:.1f} s")
        problems: list[str] = []
        records: list[Record] = []

        passes: dict[str, list[float]] = {"measured": [], "traced": []}
        order: list[tuple[str, float]] = []
        cpu0, steal0, t0 = measure.tree_cpu_s(), measure.steal_s(), time.perf_counter()
        n_pass = 0
        while True:
            # traced runs: cold pass, then untraced and traced passes in
            # turn, so each traced pass sits between two untraced ones
            phase = "traced" if args.trace and n_pass >= 2 and n_pass % 2 == 0 else "measured"
            tracer.enabled = phase == "traced"
            c0 = measure.tree_cpu_s()
            passes[phase].append(run_pass(workload, tracer, phase, records))
            order.append((phase, passes[phase][-1]))
            n_pass += 1
            log(f"{phase} pass {passes[phase][-1]:.3f} s, cpu {measure.tree_cpu_s() - c0:.2f} s")
            # start another pass only if it should end within the window
            enough = not args.trace or (passes["traced"] and phase == "measured")
            if enough and time.perf_counter() - t0 + passes[phase][-1] > args.seconds:
                break
        tracer.enabled = False  # the checks below are not traced
        cpu_s = (measure.tree_cpu_s() - cpu0) / (len(passes["measured"]) + len(passes["traced"]))
        steal_s = measure.steal_s() - steal0
        peak_rss = measure.tree_peak_rss_mb()

        check_records(records)
        try:
            problems += workload.final_checks()
        except Exception as exc:  # noqa: BLE001
            problems.append(f"final check raised {type(exc).__name__}: {exc}")
        for p in problems:
            log(f"incorrect: {p}")
        extra = workload.report()
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sf": args.sf,
            "nproc": nproc(),
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "python": platform.python_version(),
            "git": git_sha(),
            "source": source_digest(),
            "driver_mem_mb": driver_mem_mb(),
        }
    finally:
        started = set(measure.process_tree()) - {os.getpid()}
        if spark is not None:
            stop_spark(spark)
        measure.stop_processes(started | set(measure.process_tree()) - {os.getpid()})
        shutil.rmtree(run_dir, ignore_errors=True)

    measured = [r for r in records if r.phase == "measured"]
    log("measured operations: " + json.dumps([[r.op.name, round(r.seconds, 3)] for r in measured]))
    failed = sum(r.error is not None for r in records) + len(problems)
    attempted = len(records) + len(problems)
    lines = [f"# env {json.dumps(env)}"]
    reads = measure.summarize(latency(measured, "read"))
    writes = measure.summarize(latency(measured, "write"))
    fresh = measure.summarize(freshness(measured))
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes["measured"]),
        "cpu_s": cpu_s,
        "peak_rss_mb": peak_rss,
    }
    lines.append(
        f"# {args.workload}: {len(passes['measured'])} measured passes,"
        f" {len(measured)} operations, ops_failed_frac={failed / attempted:.4f}"
        f" ({failed}/{attempted}), machine steal {steal_s:.2f} s per CPU during the passes"
    )
    for name, value in e2e.items():
        lines.append(f"# {name} = {value:.4f} {'MB' if name == 'peak_rss_mb' else 's'}")
    lines.append(
        f"# setup_s parts: session start {session_s:.4f} s + median of workload set-ups "
        + ", ".join(f"{b:.4f}" for b in builds) + " s"
    )
    for label, s in (("read", reads), ("write", writes), ("freshness", fresh)):
        if s.get("n"):
            tail = (
                f", p{s['tail_pct']} = {s['tail']:.4f} s"
                if "tail_pct" in s
                else f", no tail percentile (n={s['n']} < 20)"
            )
            lines.append(f"# {label}_p50_s = {s['p50']:.4f} s (n={s['n']}){tail}")
    for name, value in extra.items():
        lines.append(f"# {name} = {value:.4f}")

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if args.trace:
        overhead = trace_overhead(order)
        lm = layer_metrics(tracer, overhead)
        lines.append(f"# traced passes: {lm['passes']}, untraced: {len(passes['measured'])}")
        lines.append(
            "# trace.overhead_s: median over traced passes of (traced - mean of the untraced"
            f" passes either side): n={len(overhead)}, values "
            + ", ".join(f"{v:.3f}" for v in overhead)
            + (" (fewer than 3 samples: indicative only)" if len(overhead) < 3 else "")
        )
        lines.append("# layer self time per traced pass (s), calls:")
        for name, (sec, calls) in sorted(lm["self_time"].items(), key=lambda kv: -kv[1][0]):
            lines.append(f"#   {name:<28} {sec:9.4f}  {calls}")
        lines.append("# family: ops, wall s, operators.build share, executor CPU s per wall s")
        for fam, (ops, wall, build, cpu) in sorted(lm["families"].items()):
            lines.append(f"#   {fam:<10} {ops:4d} {wall:9.3f} {build / wall:8.3f} {cpu / wall:8.3f}")
        lines.append("# per-layer metric -> end-to-end metric it should move:")
        for name, (unit, moves) in PER_LAYER.items():
            lines.append(f"#   {name:<36} {lm['metrics'][name]:14.4f} {unit:<5} -> {moves}")
        result["metrics"] = {
            k: {"value": lm["metrics"][k], "unit": u} for k, (u, _) in PER_LAYER.items()
        }
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f)
        lines.append(f"# spans written to {os.path.relpath(path, ROOT)}")
    else:
        result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("read", "write"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DATA_SF, help="data scale factor")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dbt_on_snowflake_spark", "__init__.py")):
        log(f"the dbt_on_snowflake_spark package is missing under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    result, lines = run(args)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
