"""Spans, Spark counters and /proc readings, all taken from outside the engine.

A ``Tracer`` opens a span around each call the benchmark makes into a
layer's public function.  Every span runs under its own Spark job group,
so the jobs a span launched are found by group; their stage metrics come
from the JVM status store.  A job under a group no span set (Spark gives a
streaming query's own thread the query's run id as its group, so every
micro-batch job, ``foreachBatch`` work included, runs under it) counts
toward the innermost span that was open when it was submitted.  Spans are
kept in memory and written out once, when the run ends.  With tracing off,
spans only time the call: no job groups, no counter reads.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole box from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _proc_stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest  # parent pid, fields from state on


def _process_table() -> dict[int, tuple[int, list[str]]]:
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st:
                table[int(name)] = st
    return table


def descendants(pid: int, table: dict | None = None) -> list[int]:
    """Pids of every live process below ``pid``."""
    table = _process_table() if table is None else table
    children = defaultdict(list)
    for p, (ppid, _) in table.items():
        children[ppid].append(p)
    out, stack = [], list(children[pid])
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children[p])
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (own plus reaped children) of the ``pyspark.daemon``
    trees under the JVM: the Python workers' share of executor work."""
    table = _process_table()
    ticks = sum(int(x) for p in descendants(jvm_pid, table)
                for x in table[p][1][11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    id: int
    end: float = 0.0
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and, when enabled, the Spark work each one caused."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._next_job = 0  # first job id no collect has looked at yet
        self.sc = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent.id if parent else None, self.run_id, next(self._ids))
        if self.enabled and self.sc is not None:
            t = time.perf_counter()
            s.group = f"{self.run_id}:{s.id}:{name}"
            self.sc.setJobGroup(s.group, name)
            self.overhead_s += time.perf_counter() - t
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                if parent is not None and parent.group:
                    self.sc.setJobGroup(parent.group, parent.name)
                elif self.sc is not None:
                    self.sc._jsc.clearJobGroup()
                self.overhead_s += time.perf_counter() - t
            self.spans.append(s)

    def collect(self, root: Span) -> dict:
        """Read the Spark counters of ``root`` and its descendants into each
        span, and return ``root``'s subtree totals.  Every job submitted
        since the previous collect is looked at once."""
        if not self.enabled:
            return {}
        t = time.perf_counter()
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        no_tasks = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        subtree = self.subtree(root)
        by_group = {s.group: s for s in subtree if s.group}
        for s in subtree:
            s.counters.update(jobs=0, foreign_group_jobs=0, stages=0, tasks=0,
                              executor_cpu_s=0.0, executor_run_s=0.0,
                              shuffle_write_mb=0.0, input_mb=0.0, input_rows=0)
        epoch = time.time() - time.perf_counter()  # perf_counter -> epoch seconds
        intervals = []
        # the scheduler hands out job ids in order, from 0
        first, self._next_job = self._next_job, jsc.dagScheduler().numTotalJobs()
        for job_id in range(first, self._next_job):
            try:
                job = store.job(job_id)
            except Py4JJavaError:  # failed before it started: never posted
                continue
            group = job.jobGroup()
            s = by_group.get(group.get()) if group.isDefined() else None
            if s is None:
                if not job.submissionTime().isDefined():
                    continue
                s = _innermost(subtree, job.submissionTime().get().getTime() / 1e3 - epoch)
                if s is None:  # not submitted inside this subtree
                    continue
                s.counters["foreign_group_jobs"] += 1
            c = s.counters
            c["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1e3,
                                  job.completionTime().get().getTime() / 1e3))
            for stage_id in tracker.getJobInfo(job_id).stageIds:
                sd = store.stageAttempt(stage_id, 0, False, no_tasks, False, no_quantiles)._1()
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                c["input_mb"] += sd.inputBytes() / MB
                c["input_rows"] += sd.inputRecords()
        totals = {k: sum(s.counters[k] for s in subtree) for k in subtree[0].counters}
        # wall time of the span during which no job of it was running
        busy = _union(intervals, epoch + root.start, epoch + root.end)
        totals["jobs_s"] = busy
        totals["driver_idle_s"] = root.wall - busy
        root.counters.update(jobs_s=busy, driver_idle_s=root.wall - busy)
        self.overhead_s += time.perf_counter() - t
        return totals

    def subtree(self, root: Span) -> list[Span]:
        ids, out = {root.id}, [root]
        for s in sorted(self.spans, key=lambda s: s.id):
            if s.parent in ids and s.id not in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.wall - _union(kids, span.start, span.end)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            dict(name=s.name, id=s.id, parent=s.parent, run_id=s.run_id,
                 start=s.start, end=s.end, self_s=self.self_time(s), **s.counters)
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _innermost(spans: list[Span], at: float, slack: float = 0.002) -> Span | None:
    """The latest-starting span open at ``at`` (job times are whole ms)."""
    open_ = [s for s in spans if s.start - slack <= at <= s.end + slack]
    return max(open_, key=lambda s: s.start, default=None)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
