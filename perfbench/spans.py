"""Spans, Spark job accounting and process-tree resource readings.

A traced run wraps each call into a layer's public functions in a span
(name, start, end, parent, epoch). Each span sets its own Spark job group,
so the jobs and tasks it ran come from ``statusTracker()`` for that group.
Spans stay in memory until the run writes them out. The untraced run uses
``NullTracer``, whose spans record nothing.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "epoch", "start", "end", "jobs",
                 "tasks", "attrs")

    def __init__(self, sid, name, parent, epoch):
        self.id, self.name, self.parent, self.epoch = sid, name, parent, epoch
        self.start = self.end = 0.0
        self.jobs = self.tasks = 0
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "epoch": self.epoch, "start": self.start, "end": self.end,
                "jobs": self.jobs, "tasks": self.tasks, **self.attrs}


class NullTracer:
    enabled = False

    def begin(self, name, epoch=None):
        return None

    def end(self, s):
        pass

    @contextmanager
    def span(self, name, epoch=None):
        yield None

    def materialize(self, df):
        return df


class Tracer:
    """In-memory span recorder. Not thread-safe by design: the benchmark
    drives one client, and foreachBatch runs batches one at a time."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.t0 = time.perf_counter()

    def _group(self, span: Span) -> str:
        return f"bench-span-{span.id}"

    def begin(self, name: str, epoch=None) -> Span:
        parent = self._stack[-1] if self._stack else None
        if epoch is None and parent is not None:
            epoch = parent.epoch
        s = Span(len(self.spans), name, parent.id if parent else None, epoch)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter() - self.t0
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter() - self.t0
        self._stack.remove(s)
        self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str, epoch=None):
        s = self.begin(name, epoch)
        try:
            yield s
        finally:
            self.end(s)

    def _set_group(self, s: Span | None) -> None:
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(s), f"{s.name} epoch={s.epoch}")

    def count(self, df) -> int:
        """Row count of a materialized output, run outside every span's
        job group so it is not charged to the layer that produced it."""
        self._set_group(None)
        try:
            return df.count()
        finally:
            self._set_group(self._stack[-1] if self._stack else None)

    def materialize(self, df):
        """Run a lazy layer output inside the current span, so the span is
        charged with its own layer's work and the next layer starts from
        materialized rows."""
        return df.localCheckpoint(eager=True)

    def count_jobs(self) -> None:
        """Fill each span's job and task counts from the status tracker
        (called once, after the run)."""
        st = self.sc.statusTracker()
        for s in self.spans:
            jids = st.getJobIdsForGroup(self._group(s))
            s.jobs = len(jids)
            tasks = 0
            for j in jids:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numTasks
            s.tasks = tasks

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.dur
        return {s.id: s.dur - covered.get(s.id, 0.0) for s in self.spans}

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_jobs(self, root: Span) -> tuple[int, int]:
        """Jobs and tasks of a span and all its descendants."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        jobs = tasks = 0
        todo = [root]
        while todo:
            s = todo.pop()
            jobs += s.jobs
            tasks += s.tasks
            todo.extend(kids.get(s.id, ()))
        return jobs, tasks

    def dump(self) -> list[dict]:
        selft = self.self_times()
        return [{**s.as_dict(), "self": selft[s.id]} for s in self.spans]


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------------------
# process tree: CPU seconds and resident memory from /proc
# ---------------------------------------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(e))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of every live process in the tree, plus cutime+cstime,
    which hold the CPU of children each process has already reaped."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_hwm_split(root: int) -> dict[str, float]:
    """VmHWM (a process's resident-set high-water mark) in MB, summed per
    command name over the live tree."""
    out: dict[str, float] = {}
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except (OSError, ValueError):
            continue
        if "VmHWM" not in fields:  # a zombie has no memory left
            continue
        name = fields["Name"].strip()
        out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return out


def tree_hwm_mb(root: int) -> float:
    return sum(tree_hwm_split(root).values())
