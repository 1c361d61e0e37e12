"""Measurement from outside the program: spans, Spark status deltas,
counting wrappers for ``mapreduce()`` user functions, plan metrics, and
process-tree memory.

Nothing here changes what a job computes.  The traced run pays for it
(listener-bus drains, py4j reads, accumulator adds); the untraced run uses
only ``RssSampler``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

LAYERS = ("bench", "session", "registry", "compat", "spark")


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, so Spark's own timestamps line up
    end: float
    parent: int | None

    @property
    def layer(self) -> str:
        head = self.name.split(".", 1)[0]
        return head if head in LAYERS else "bench"


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Spans kept in memory; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        s = Span(len(self.spans), name, start, end, parent)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = self.add(name, time.time(), 0.0, parent)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, s: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(s.id)]
        return (s.end - s.start) - union_s(kids, s.start, s.end)

    def self_by_layer(self, root: Span) -> dict[str, float]:
        """Self time of every span under ``root`` (inclusive), summed by
        layer."""
        out = dict.fromkeys(LAYERS, 0.0)
        todo = [root]
        while todo:
            s = todo.pop()
            out[s.layer] += self.self_time(s)
            todo.extend(self.children(s.id))
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# Spark status: what the jobs of one call did
# --------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


# CallStats totals reported as ``spark.<name>`` metrics, with their units
SPARK_TOTALS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_failures": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "python_side_s": "s", "gc_s": "s",
    "deserialize_s": "s", "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "result_bytes": "bytes", "stage_wall_s": "s",
    "reduce_task_skew": "ratio",
}


@dataclass
class CallStats:
    """Totals over the Spark jobs one call launched."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    deserialize_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    reduce_task_skew: float = 0.0
    job_spans: list[tuple[int, float, float]] = field(default_factory=list)
    stage_spans: list[tuple[int, int, float, float]] = field(default_factory=list)

    @property
    def python_side_s(self) -> float:
        return max(0.0, self.executor_run_s - self.executor_cpu_s)

    @property
    def stage_wall_s(self) -> float:
        """Wall time during which any of the call's stages ran."""
        spans = [(a, b) for _, _, a, b in self.stage_spans]
        return union_s(spans, float("-inf"), float("inf"))

    def add(self, other: "CallStats") -> None:
        for k, v in vars(other).items():
            if isinstance(v, list):
                getattr(self, k).extend(v)
            elif k == "reduce_task_skew":
                self.reduce_task_skew = max(self.reduce_task_skew, v)
            else:
                setattr(self, k, getattr(self, k) + v)


class SparkCalls:
    """Attributes Spark jobs to the call that launched them.

    Each call runs under its own job group; after it returns, the listener
    bus is drained and the AppStatusStore is read for that group's jobs and
    their stages.  A stage attempt counts only if it was submitted during
    the call, and only once, so stages whose output a job reuses from
    earlier work are not counted again.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm, self._gw = self.sc._jvm, self.sc._gateway
        self._seen: set[tuple[int, int]] = set()
        self._n = 0

    @contextmanager
    def call(self, label: str) -> Iterator[CallStats]:
        self._n += 1
        group = f"perfbench-{os.getpid()}-{self._n}"
        stats = CallStats()
        # store times are whole milliseconds
        t0 = int(time.time() * 1000) / 1000.0
        self.sc.setJobGroup(group, label)
        try:
            yield stats
        finally:
            self.sc._jsc.clearJobGroup()
        self._bus.waitUntilEmpty(60_000)
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            self._read_job(job_id, t0, stats)

    def _stage_attempts(self, stage_id: int) -> list:
        from py4j.protocol import Py4JJavaError

        try:
            return _seq(
                self._store.stageData(
                    stage_id,
                    False,
                    self._jvm.java.util.ArrayList(),
                    False,
                    self._gw.new_array(self._jvm.double, 0),
                )
            )
        except Py4JJavaError:  # never registered: a stage the job skipped
            return []

    def _read_job(self, job_id: int, t0: float, stats: CallStats) -> None:
        jd = self._store.job(job_id)
        a, b = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if a is not None and b is not None:
            stats.job_spans.append((job_id, a, b))
        stats.jobs += 1
        shuffle_read_stages = []
        for sid in _seq(jd.stageIds()):
            for sd in self._stage_attempts(int(sid)):
                key = (sd.stageId(), sd.attemptId())
                start = _opt_ms(sd.submissionTime())
                if key in self._seen or start is None or start < t0:
                    continue
                self._seen.add(key)
                end = _opt_ms(sd.completionTime()) or start
                stats.stage_spans.append((job_id, key[0], start, end))
                stats.stages += 1
                stats.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                stats.task_failures += sd.numFailedTasks()
                stats.executor_run_s += sd.executorRunTime() / 1e3
                stats.executor_cpu_s += sd.executorCpuTime() / 1e9
                stats.gc_s += sd.jvmGcTime() / 1e3
                stats.deserialize_s += sd.executorDeserializeTime() / 1e3
                stats.shuffle_write_bytes += sd.shuffleWriteBytes()
                stats.shuffle_read_bytes += sd.shuffleReadBytes()
                stats.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                stats.result_bytes += sd.resultSize()
                if sd.shuffleReadRecords() > 0:
                    shuffle_read_stages.append((sd.executorRunTime(), key))
        if shuffle_read_stages:
            _, (sid, att) = max(shuffle_read_stages)
            stats.reduce_task_skew = max(stats.reduce_task_skew, self._task_skew(sid, att))

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """max / median task duration of one stage attempt."""
        tasks = _seq(self._store.taskList(stage_id, attempt, 2**31 - 1))
        d = [t.duration().get() for t in tasks if t.duration().isDefined()]
        med = statistics.median(d) if d else 0
        return max(d) / med if med > 0 else 0.0


# --------------------------------------------------------------------------
# Catalyst phases and Python SQL metrics of one DataFrame
# --------------------------------------------------------------------------

PY_METRICS = {
    "pythonBootTime": "boot_s",
    "pythonInitTime": "init_s",
    "pythonTotalTime": "total_s",
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
}


def sql_phases(df) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        out[name] = phases.apply(name).durationMs() / 1e3 if phases.contains(name) else 0.0
    return out


def _plan_nodes(node) -> Iterator[Any]:
    """Every node of an executed plan, through AQE wrappers and query
    stages."""
    todo = [node]
    while todo:
        n = todo.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(n.plan())
            continue
        yield n
        todo.extend(_seq(n.children()))


def python_metrics(df) -> dict[str, float]:
    """Spark's PythonSQLMetrics summed over the executed plan's Python
    nodes (times in seconds, sizes in bytes)."""
    out = dict.fromkeys(PY_METRICS.values(), 0.0)
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        metrics = node.metrics()
        for key, name in PY_METRICS.items():
            if metrics.contains(key):
                v = metrics.apply(key).value()
                out[name] += v / 1e9 if name.endswith("_s") else v
    return out


# --------------------------------------------------------------------------
# counting wrappers for mapreduce() user functions and sources
# --------------------------------------------------------------------------

COUNTERS = (
    "map_calls",
    "map_pairs",
    "mapfn_s",
    "collectfn_calls",
    "collectfn_s",
    "reduce_calls",
    "reduce_values_in",
    "reducefn_s",
    "getitem_calls",
    "getitem_s",
)


class Counters:
    """One accumulator per counter; ``snapshot()`` reads them all."""

    def __init__(self, sc) -> None:
        self.acc = {k: sc.accumulator(0.0 if k.endswith("_s") else 0) for k in COUNTERS}

    def snapshot(self) -> dict[str, float]:
        return {k: a.value for k, a in self.acc.items()}


def count_mapfn(fn: Callable, acc: dict) -> Callable:
    calls, pairs, secs = acc["map_calls"], acc["map_pairs"], acc["mapfn_s"]

    def mapfn(k, v):
        t0 = time.perf_counter()
        out = list(fn(k, v))
        secs.add(time.perf_counter() - t0)
        calls.add(1)
        pairs.add(len(out))
        return out

    return mapfn


def count_collectfn(fn: Callable, acc: dict) -> Callable:
    calls, secs = acc["collectfn_calls"], acc["collectfn_s"]

    def collectfn(k, vs):
        t0 = time.perf_counter()
        out = fn(k, vs)
        secs.add(time.perf_counter() - t0)
        calls.add(1)
        return out

    return collectfn


def count_reducefn(fn: Callable, acc: dict) -> Callable:
    calls, values, secs = acc["reduce_calls"], acc["reduce_values_in"], acc["reducefn_s"]

    def reducefn(k, vs):
        t0 = time.perf_counter()
        out = fn(k, vs)
        secs.add(time.perf_counter() - t0)
        calls.add(1)
        values.add(len(vs))
        return out

    return reducefn


class CountingSource:
    """A non-``Mapping`` dict-like that forwards to ``inner`` and counts
    ``__getitem__`` calls and time where they run."""

    def __init__(self, inner: Any, acc: dict) -> None:
        self.inner = inner
        self.calls, self.secs = acc["getitem_calls"], acc["getitem_s"]

    def __iter__(self):
        return iter(self.inner)

    def __getitem__(self, k):
        t0 = time.perf_counter()
        v = self.inner[k]
        self.secs.add(time.perf_counter() - t0)
        self.calls.add(1)
        return v


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(d)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (driver Python, JVM, Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
