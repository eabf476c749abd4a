"""In-memory span tracer for the traced benchmark mode.

A span records name, start, end, its parent span and a run id shared by
every span of one run or request. While a span is open, the Spark jobs
its thread submits carry a job group unique to that span, so the job,
stage and failed-task counts of each span are read back from
``sc.statusTracker()`` once the run is over. Each span also records the
machine's busy-core count over its interval from ``/proc/stat``.

Spans are kept in memory and written out by the caller at the end.
Wrappers installed with :meth:`Tracer.patch` turn a call into a public
function into a span; with ``force`` a returned DataFrame is
materialized inside the span, so the span covers that layer's work
instead of only its lazy plan construction. With ``until_collect`` the
span stays open until the caller collects the returned DataFrame, so it
covers the query's execution without adding a Spark job of its own.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

JOB_GROUP = "spark.jobGroup.id"
_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def cpu_jiffies() -> tuple[int, int]:
    """(busy, total) jiffies of the aggregate cpu line of /proc/stat;
    busy excludes idle and iowait."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle, sum(vals)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    busy_cores: float | None = None
    jobs: int = 0
    stages: int = 0
    failed_tasks: int = 0

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class _CollectEndsSpan:
    """Stands in for a returned DataFrame whose caller collects it at
    once: ``collect()`` runs the query and then closes the span the call
    opened."""

    def __init__(self, df, span_cm):
        self._df = df
        self._span_cm = span_cm

    def collect(self):
        try:
            return self._df.collect()
        finally:
            self._span_cm.__exit__(None, None, None)

    def __getattr__(self, attr):
        return getattr(self._df, attr)


class Tracer:
    """Collects spans; ``sc`` (a SparkContext) is optional so the span
    arithmetic can be exercised without Spark."""

    def __init__(self, sc=None, clock=time.perf_counter, cpu=cpu_jiffies):
        self.sc = sc
        self.clock = clock
        self.cpu = cpu
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._runs = itertools.count()
        #: parent for spans opened on a thread with no open span (worker
        #: threads inside the program, HTTP handler threads)
        self.fallback: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def new_run_id(self) -> str:
        return f"run-{next(self._runs)}"

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else self.fallback
        if run_id is None:
            run_id = parent.run_id if parent is not None else self.new_run_id()
        with self._lock:
            sp = Span(len(self.spans), name, parent.sid if parent else None,
                      run_id, 0.0)
            self.spans.append(sp)
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, sp.group)
        stack.append(sp)
        busy0, total0 = self.cpu()
        sp.start = self.clock()
        try:
            yield sp
        finally:
            sp.end = self.clock()
            busy1, total1 = self.cpu()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            if sp.duration > 0 and total1 > total0:
                sp.busy_cores = (busy1 - busy0) / _CLK_TCK / sp.duration

    def wrap(self, fn, name: str, force: bool = False,
             until_collect: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if until_collect:
                cm = self.span(name)
                cm.__enter__()
                try:
                    return _CollectEndsSpan(fn(*args, **kwargs), cm)
                except BaseException:
                    cm.__exit__(None, None, None)
                    raise
            with self.span(name):
                out = fn(*args, **kwargs)
                if force and hasattr(out, "localCheckpoint"):
                    out = out.localCheckpoint(eager=True)
                return out

        return traced

    def patch(self, owner, attr: str, name: str, force: bool = False,
              until_collect: bool = False):
        """Replace ``owner.attr`` by a traced wrapper; returns an undo
        callable."""
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(orig, name, force, until_collect))
        return lambda: setattr(owner, attr, orig)

    # -- read-back --------------------------------------------------------

    def count_jobs(self, tracker=None) -> None:
        """Fill jobs/stages/failed_tasks of every span from the status
        tracker (self counts: jobs submitted under the span's own group,
        not under a child's)."""
        tracker = tracker or self.sc.statusTracker()
        for sp in self.spans:
            job_ids = list(tracker.getJobIdsForGroup(sp.group))
            stage_ids = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            failed = 0
            for sid in stage_ids:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    failed += st.numFailedTasks
            sp.jobs, sp.stages, sp.failed_tasks = len(job_ids), len(stage_ids), failed

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.children(sp) if c.end is not None]
        return sp.duration - covered(kids, sp.start, sp.end)

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def inclusive_jobs(self, sp: Span) -> int:
        return sum(s.jobs for s in self.subtree(sp))

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.subtree(within) if within is not None else self.spans
        return [s for s in pool if s.name == name]

    def dump(self) -> list[dict]:
        return [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
