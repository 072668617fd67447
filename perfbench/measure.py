"""Measurement primitives shared by every workload.

- process CPU seconds and high-water RSS of this process and everything
  it started (the Spark JVM and its Python workers), read from /proc;
- the percentile rule: report the median, plus the highest percentile
  that still has at least ten samples beyond it;
- ``Tracer``: in-memory spans (workload -> pass -> operation -> layer
  call) for the traced run. A layer call runs under its own Spark job
  group, and the group's jobs and stages are read back from the status
  store right after the call, before stage retention can evict them.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
TAIL_SAMPLES = 10


# ------------------------------------------------------------ /proc


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds incl. reaped children)."""
    out: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # fields after the ")" that closes the command name
        rest = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(rest[1]), ticks / CLK_TCK)
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree. A live process
    counts its own time plus that of children it has already reaped, so
    short-lived Python workers are not lost when they exit."""
    table = _proc_table()
    return sum(table[p][1] for p in process_tree() if p in table)


def steal_s() -> float:
    """Seconds per CPU that the hypervisor ran something else while this
    machine's CPUs wanted to run (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK / os.cpu_count()


def reset_peak_rss() -> None:
    """Restart this process's own VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def tree_peak_rss_mb() -> float:
    """Sum of the high-water resident set size (VmHWM) of the live
    processes in this tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def stop_processes(pids: set[int], timeout_s: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended (they may have
    been re-parented meanwhile), killing what is left after
    ``timeout_s``."""
    import signal

    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:  # reap our own children
                pass
        except ChildProcessError:
            pass
        rest = [p for p in pids if _running(p)]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)


# ------------------------------------------------------- statistics


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile of ``n`` samples that has at least
    ``TAIL_SAMPLES`` samples beyond it, or None when that is below the
    median (fewer than twice ``TAIL_SAMPLES`` samples)."""
    if n < 2 * TAIL_SAMPLES:
        return None
    return math.floor(100.0 * (n - TAIL_SAMPLES) / n)


def summarize(values: list[float]) -> dict:
    """Median, the rule's tail percentile and the sample count."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = nearest_rank(values, p)
    return out


# ----------------------------------------------------------- tracing


@dataclass
class Span:
    id: int
    parent: int | None
    op_id: int | None
    name: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
}


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every method a
    plain pass-through so untraced runs execute the same calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id: int | None = None
        self._groups = 0

    @contextmanager
    def span(self, name: str, op: bool = False):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, None, name, time.perf_counter())
        if op:
            self._op_id = s.id
        s.op_id = self._op_id
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if op:
                self._op_id = None

    def note(self, name: str, **counts) -> None:
        """Record counts taken outside any call (a zero-length span)."""
        if self.enabled:
            with self.span(name):
                self.spans[-1].counts = counts

    def call(self, layer: str, fn, *args, **kwargs):
        """Run one call into ``layer`` as a span carrying the Spark jobs,
        stages and task metrics it caused."""
        if not self.enabled:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench-{os.getpid()}-{self._groups}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        with self.span(layer):
            span = self._stack[-1]
            sc.setJobGroup(group, layer)
            wall0 = time.time()
            try:
                result = fn(*args, **kwargs)
            finally:
                wall1 = time.time()
                sc.setLocalProperty("spark.jobGroup.id", outer)
        span.counts = spark_counts(sc, group, wall0, wall1)
        return result


def _stage_rows(sc, group: str, deadline: float) -> tuple[int, list]:
    """(jobs, stage data of the group's stages that ran), waiting until
    the listener has recorded every stage's completion."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    while True:
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        rows, pending = [], False
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never attempted: skipped by stage reuse
                continue
            status = sd.status().toString()
            if status == "SKIPPED" or status == "PENDING":
                continue
            if status == "ACTIVE" or not sd.completionTime().isDefined():
                pending = True
            rows.append(sd)
        if not pending or time.monotonic() > deadline:
            return len(job_ids), rows
        time.sleep(0.02)


def spark_counts(sc, group: str, wall0: float, wall1: float) -> dict:
    """Jobs, stages, tasks, task metrics and idle time of one job group.
    ``idle_s`` is the part of [wall0, wall1] during which no stage of
    the group was active."""
    n_jobs, rows = _stage_rows(sc, group, time.monotonic() + 2.0)
    c = {k: 0.0 for k in STAGE_FIELDS}
    c.update(jobs=n_jobs, stages=len(rows), tasks=0, spill_bytes=0)
    intervals = []
    for sd in rows:
        c["tasks"] += sd.numTasks()
        for key, (attr, scale) in STAGE_FIELDS.items():
            c[key] += getattr(sd, attr)() * scale
        c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.submissionTime().isDefined():
            t0 = sd.submissionTime().get().getTime() / 1e3
            t1 = (
                sd.completionTime().get().getTime() / 1e3
                if sd.completionTime().isDefined()
                else wall1
            )
            intervals.append((max(t0, wall0), min(t1, wall1)))
    busy, end = 0.0, wall0
    for a, b in sorted(intervals):
        a = max(a, end)
        if b > a:
            busy += b - a
            end = b
    c["idle_s"] = max(0.0, (wall1 - wall0) - busy)
    return c


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its children cover."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.seconds
    return {s.id: s.seconds - child[s.id] for s in spans}
