"""Spans and Spark status-store counts at layer boundaries.

A traced run wraps every call into a layer in a span (name, start, end,
parent, pass id). Before the call it marks the newest job; after the call
returns, outside the timed region, it drains Spark's listener bus and reads
the jobs submitted since the mark, and their stages, from the status store,
so each span carries its driver/executor split: ``driver_s`` is the span's
wall time minus the union of its job intervals, the rest comes from the
stage task metrics.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import dataclasses
import os
import time


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def tree_cpu_seconds(root_pid: int) -> float:
    """User + system CPU seconds of a process and all its descendants (the
    Spark JVM and its Python workers), including reaped children's."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        # fields after "(comm)": state ppid ... utime(11) stime cutime cstime
        fields = raw[raw.rindex(")") + 2:].split()
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        ticks += stats.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclasses.dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    pass_id: int
    start: float  # epoch seconds
    end: float = 0.0
    paused: float = 0.0  # time spent reading the status store inside the span
    cpu_s: float = 0.0  # CPU seconds of the process tree (pass spans only)
    counts: dict = dataclasses.field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start - self.paused


class StatusReader:
    """Reads the jobs (and their stages) that ran since the last ``sync``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.last_job = -1
        self.sync()

    def sync(self) -> None:
        """Skip every job that has run so far, such as the output checks
        and untraced work between two boundaries."""
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)  # newest first
        if jobs.size():
            self.last_job = max(self.last_job, jobs.apply(0).jobId())

    def read(self, start: float, end: float) -> dict:
        """Counts for the jobs submitted since the last ``sync``; the wall
        interval ``[start, end]`` (epoch s) bounds the job-interval union."""
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)  # newest first
        intervals, stage_ids, n_jobs, newest = [], set(), 0, self.last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            n_jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                t1 = done.get().getTime() / 1e3 if done.isDefined() else end
                intervals.append((sub.get().getTime() / 1e3, t1))
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        self.last_job = newest
        c = {"jobs": n_jobs, "tasks": 0, "stages": 0, "exec_run_s": 0.0,
             "exec_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
             "spill_mb": 0.0}
        if stage_ids:
            lowest = min(stage_ids)
            gw = self.sc._gateway
            stages = self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid < lowest:
                    break
                if sid not in stage_ids or s.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                c["exec_run_s"] += s.executorRunTime() / 1e3
                c["exec_cpu_s"] += s.executorCpuTime() / 1e9
                c["gc_s"] += s.jvmGcTime() / 1e3
                c["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                c["spill_mb"] += s.diskBytesSpilled() / 2**20
        busy = interval_union(clip(intervals, start, end))
        c["driver_s"] = max(0.0, (end - start) - busy)
        return c


class Tracer:
    """Times passes and boundaries; with a ``StatusReader`` it also attaches
    counts to each boundary span, pausing the pass clock while it reads."""

    def __init__(self, reader: StatusReader | None = None):
        self.reader = reader
        self.spans: list[Span] = []
        self._root: Span | None = None

    def begin_pass(self, pass_id: int) -> None:
        self._root = Span("pass", len(self.spans), None, pass_id, time.time())
        self._root.cpu_s = -tree_cpu_seconds(os.getpid())
        self.spans.append(self._root)

    def end_pass(self) -> Span:
        root, self._root = self._root, None
        root.end = time.time()
        root.cpu_s += tree_cpu_seconds(os.getpid())
        return root

    def call(self, name: str, fn, *args, **kwargs):
        root = self._root
        if self.reader is not None:
            t0 = time.time()
            self.reader.sync()
            root.paused += time.time() - t0
        span = Span(name, len(self.spans), root.span_id, root.pass_id, time.time())
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            self.spans.append(span)
            if self.reader is not None:
                t0 = time.time()
                span.counts = self.reader.read(span.start, span.end)
                root.paused += time.time() - t0

    def children(self, root: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == root.span_id]

    def self_share(self, root: Span) -> float:
        """Share of the pass not covered by its boundary spans."""
        covered = sum(s.end - s.start for s in self.children(root))
        return max(0.0, root.seconds - covered) / root.seconds

    def as_records(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]
