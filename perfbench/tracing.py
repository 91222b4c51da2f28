"""Spans, self time and per-layer Spark counters, recorded from outside the
program under test.

A span is one call into a layer (or one benchmark operation that contains
such calls).  Spans are kept in memory and written out when the run ends.
A layer span runs its call under a Spark job group of its own, so the jobs
it started can be looked up afterwards in Spark's status store, which is
filled with the UI off:

    sc.setJobGroup(group)  →  statusTracker().getJobIdsForGroup(group)
      →  sc._jsc.sc().statusStore().job(id) / .lastStageAttempt(stage)

The SQL status store gives the scan's "number of files read" per query.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# The program's layers, as its modules are named.
LAYERS = (
    "session",
    "sources.io",
    "functions.text",
    "operators.index",
    "operators.persist",
    "operators.search",
    "operators.dedup",
    "operators.similarity",
)

# Counters every layer span records.
COUNTERS = (
    "wall_s", "self_s", "driver_s", "jobs", "stages", "tasks",
    "exec_run_s", "exec_cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)

# Extra per-layer metrics, filled in by the workloads.
EXTRAS = {
    "session": ("start_s",),
    "functions.text": ("tokens",),
    "operators.persist": ("files_written", "bytes_written", "probe_plan_ms",
                          "probe_files_read"),
    "operators.dedup": ("candidate_pairs", "verified_pairs", "verify_yield",
                        "recall"),
    "operators.similarity": ("candidate_pairs", "verify_yield",
                             "pandas_udf_s", "recall"),
}

# SQL executions searched for a span's scans (a span runs a few queries).
RECENT_EXECUTIONS = 16

CLK_TCK = os.sysconf("SC_CLK_TCK")
# Names of the HotSpot threads that compile and sweep JIT code.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

# Run-level tracing metrics.
TRACE_METRICS = ("trace.layer_self_share", "trace.overhead_ms_per_span")


def per_layer_metric_names() -> list[str]:
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    names += [f"{layer}.{x}" for layer, xs in EXTRAS.items() for x in xs]
    return names + list(TRACE_METRICS)


def layer_unit(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    tail = name.rsplit(".", 1)[1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_ms") or tail.endswith("per_span"):
        return "ms"
    if tail.endswith("_bytes") or tail == "bytes_written":
        return "bytes"
    if tail in ("verify_yield", "recall", "layer_self_share"):
        return "ratio"
    return "count"


@dataclass
class Span:
    name: str               # a layer name, or an operation name ("op.*")
    span_id: int
    parent: int | None
    op_id: int | None       # shared by every span of one operation
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start: float, end: float):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {s.span_id: s.duration - union_length(
                clip([(c.start, c.end) for c in children.get(s.span_id, [])],
                     s.start, s.end))
            for s in spans}


class Tracer:
    """Records spans; with ``spark`` set, layer spans also read the Spark
    counters of the jobs they ran.  A disabled tracer only runs the body."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self.bookkeeping_s = 0.0

    @contextmanager
    def op(self, name: str):
        """A benchmark operation: the root of one span tree."""
        if not self.enabled:
            yield None
            return
        with self._span(f"op.{name}", next(self._ops)) as s:
            yield s

    @contextmanager
    def layer(self, name: str, files_read: bool = False):
        """One call into a program layer.  ``files_read`` also sums the
        scans' file counts from the SQL status store, which is slow."""
        if not self.enabled:
            yield None
            return
        if name not in LAYERS:
            raise ValueError(f"unknown layer {name!r}")
        op_id = self._stack[-1].op_id if self._stack else next(self._ops)
        with self._span(name, op_id, files_read) as s:
            yield s

    @contextmanager
    def _span(self, name: str, op_id: int, files_read: bool = False):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(name, next(self._ids), parent.span_id if parent else None,
                    op_id, 0.0)
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"perfbench-{span.span_id}"
        if sc is not None:
            sc.setJobGroup(group, name, False)
        self._stack.append(span)
        self.bookkeeping_s += time.perf_counter() - t
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            # a session span creates the context it is measured in
            sc = self.spark.sparkContext if self.spark is not None else None
            if sc is not None:
                span.counters.update(spark_counters(
                    self.spark, group, span.start, span.end, files_read))
                outer = self._stack[-1] if self._stack else None
                if outer is not None:
                    sc.setJobGroup(f"perfbench-{outer.span_id}", outer.name,
                                   False)
                else:
                    sc._jsc.clearJobGroup()
            self.spans.append(span)
            self.bookkeeping_s += time.perf_counter() - t

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer sums of every counter over the run's layer spans."""
        selfs = self_times(self.spans)
        out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
        for s in self.spans:
            if s.name not in LAYERS:
                continue
            out[f"{s.name}.wall_s"] += s.duration
            out[f"{s.name}.self_s"] += selfs[s.span_id]
            for c in COUNTERS[3:]:
                out[f"{s.name}.{c}"] += s.counters.get(c, 0)
            out[f"{s.name}.driver_s"] += max(
                0.0, selfs[s.span_id] - s.counters.get("job_s", 0.0))
        roots = [s for s in self.spans if s.parent is None]
        root_wall = sum(s.duration for s in roots)
        layer_self = sum(selfs[s.span_id] for s in self.spans
                         if s.name in LAYERS)
        out["trace.layer_self_share"] = layer_self / root_wall if root_wall else 0.0
        out["trace.overhead_ms_per_span"] = (
            1000.0 * self.bookkeeping_s / max(1, len(self.spans)))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def spark_counters(spark, group: str, start: float, end: float,
                   files_read: bool) -> dict:
    """Counters of the jobs run under ``group``.  ``job_s`` is the time
    within [start, end] during which at least one of them was running."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    c = {k: 0 for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                        "gc_s", "input_bytes", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes")}
    intervals = []
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    for jid in job_ids:
        c["jobs"] += 1
        jd = store.job(jid)
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            intervals.append((jd.submissionTime().get().getTime() / 1000.0,
                              jd.completionTime().get().getTime() / 1000.0))
        info = sc.statusTracker().getJobInfo(jid)
        for sid in (info.stageIds if info is not None else ()):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was skipped, never attempted
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["exec_run_s"] += sd.executorRunTime() / 1e3
            c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["input_bytes"] += sd.inputBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    c["job_s"] = union_length(clip(intervals, start, end))
    if files_read and job_ids:
        c["files_read"] = sql_files_read(spark, set(job_ids))
    return c


def sql_files_read(spark, job_ids: set[int]) -> int:
    """Sum of the scans' "number of files read" over the SQL executions that
    ran any of ``job_ids`` (each scan's accumulator counted once)."""
    store = spark._jsparkSession.sharedState().statusStore()
    total, seen = 0, set()
    n = store.executionsCount()     # only the latest executions can match
    it = store.executionsList(max(0, n - RECENT_EXECUTIONS),
                              RECENT_EXECUTIONS).iterator()
    while it.hasNext():
        e = it.next()
        jobs = e.jobs().keySet().iterator()
        mine = False
        while jobs.hasNext():
            if int(jobs.next()) in job_ids:
                mine = True
        if not mine:
            continue
        values = store.executionMetrics(e.executionId())
        ms = e.metrics().iterator()
        while ms.hasNext():
            m = ms.next()
            if m.name() != "number of files read" or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                total += int(str(v.get()).replace(",", ""))
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) from /proc, and remembers the peak and
    every process it saw."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> int:
        pids = descendants(os.getpid())
        self.seen.update(pids)
        total = 0
        for pid in [os.getpid(), *pids]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        self.peak_bytes = max(self.peak_bytes, total)
        return total


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """CPU time (user + system) used so far by ``pid``, its descendants (the
    JVM and its Python workers) and the children they have reaped, and the
    part of it spent by the JVM's JIT compiler threads.

    Unlike wall time, CPU time leaves out the time the hypervisor takes
    from the VM (CPU steal), which on a shared host varies from run to run.
    The JIT share is read per thread, so it is exact only while compiler
    threads live as long as the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``).
    """
    total = jit = 0
    for p in [pid, *descendants(pid)]:
        try:
            comm, ticks = _stat(f"/proc/{p}/stat")
        except OSError:             # exited; its time is in its parent's
            continue
        total += ticks
        if comm != "java":
            continue
        for t in os.listdir(f"/proc/{p}/task"):
            try:
                comm, ticks = _stat(f"/proc/{p}/task/{t}/stat")
            except OSError:
                continue
            if comm.startswith(JIT_THREADS):
                jit += ticks
    return total / CLK_TCK, jit / CLK_TCK


def _stat(path: str) -> tuple[str, int]:
    """(command name, utime + stime + cutime + cstime in clock ticks) from a
    /proc stat file; for a thread the reaped-children fields are 0."""
    with open(path) as f:
        stat = f.read()
    end = stat.rfind(")")
    fields = stat[end + 2:].split()
    return stat[stat.find("(") + 1:end], sum(int(x) for x in fields[11:15])


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except (OSError, ValueError):
                continue
            out += kids
            todo += kids
    return out
