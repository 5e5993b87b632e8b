"""What the benchmark observes from outside the program.

- ``Tracer``: spans (name, start, end, parent, request id) recorded
  around calls into each layer's public methods, which it wraps at run
  time. Spans stay in memory until the run ends.
- ``SparkCounters``: one job group per operation; Spark's public
  ``statusTracker`` gives its jobs, stages, tasks and failed tasks.
- ``ProcProbe``: CPU time of the driver, the JVM and the Python worker
  tree, and the peak summed RSS of all three, read from ``/proc``.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.request: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[type, str, object]] = []
        self._paused = 0

    @contextmanager
    def paused(self):
        """Spans opened inside are not recorded."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @contextmanager
    def span(self, name: str):
        if self._paused:
            yield Span(name, 0.0, None, None)
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent, self.request)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, cls: type, method: str, name: str, count=None) -> None:
        """Replace ``cls.method`` with a version that records a span.
        ``count(obj, *args, **kwargs)``, called after the traced call
        and outside its span, returns counts stored on the span."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(obj, *args, **kwargs):
            with tracer.span(name) as s:
                out = orig(obj, *args, **kwargs)
            if count is not None:
                s.counts.update(count(obj, *args, **kwargs))
            return out

        self._patched.append((cls, method, orig))
        setattr(cls, method, traced)

    def unwrap_all(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its child
        spans cover (children of one span never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            out.setdefault(s.name, []).append(s.duration - child[i])
        return out

    def self_median(self, name: str) -> float:
        """Median self time of the spans called ``name``; 0 when none."""
        values = self.self_times().get(name, [])
        return statistics.median(values) if values else 0.0

    def counts(self, name: str) -> list[dict]:
        return [s.counts for s in self.spans if s.name == name]


class SparkCounters:
    """Spark jobs, stages and tasks per operation, one job group each."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = 0

    @contextmanager
    def group(self, kind: str, into: dict):
        gid = f"perfbench-{self._n}"
        self._n += 1
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            into.update(self.read(gid))

    def read(self, gid: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        first_stage_tasks = None
        for jid in sorted(jobs):
            info = self.tracker.getJobInfo(jid)
            for sid in sorted(info.stageIds) if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage (shuffle output reused)
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
                if first_stage_tasks is None:
                    first_stage_tasks = st.numTasks
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "first_stage_tasks": first_stage_tasks or 0,
        }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str], children: bool) -> float:
    ticks = int(fields[11]) + int(fields[12])  # utime + stime
    if children:
        ticks += int(fields[13]) + int(fields[14])  # reaped children
    return ticks / _CLK_TCK


def _rss_bytes(fields: list[str]) -> int:
    return int(fields[21]) * _PAGE


def alive(pid: int, start: str | None = None) -> bool:
    """The process runs and is not a zombie; with ``start``, it is also
    the process recorded with that start time, not a later one that
    reuses the pid."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z" and (start is None or fields[19] == start)


def start_time(pid: int) -> str | None:
    fields = _stat(pid)
    return fields[19] if fields is not None else None


class ProcProbe:
    """Samples the driver, JVM and Python-worker processes every
    ``INTERVAL_S`` seconds on a background thread. Every process seen is
    appended to ``pid_file`` so a supervisor can reap leftovers."""

    INTERVAL_S = 0.1

    def __init__(self, pid_file: str) -> None:
        self.driver = os.getpid()
        self.jvm: int | None = None
        self.pid_file = pid_file
        self.peak_rss = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def set_jvm(self, pid: int) -> None:
        self.jvm = pid
        self._note([pid])

    def _note(self, pids) -> None:
        """Record new pids with their start times, so that a reaper can
        tell them from a later process that reuses the pid."""
        new = [p for p in pids if p not in self.seen]
        if new:
            self.seen.update(new)
            with open(self.pid_file, "a") as f:
                f.write("".join(f"{p} {start_time(p)}\n" for p in new))

    def workers(self) -> list[int]:
        """Live descendants of the JVM: the Python daemon and the
        workers it forks."""
        if self.jvm is None:
            return []
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat(int(name))
                if fields is not None:
                    parent[int(name)] = int(fields[1])
        out, frontier = [], {self.jvm}
        while frontier:
            kids = [p for p, pp in parent.items() if pp in frontier]
            out.extend(kids)
            frontier = set(kids)
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def sample(self) -> None:
        pids = [self.driver] + ([self.jvm] if self.jvm else []) + self.workers()
        self._note(pids)
        total = 0
        for p in pids:
            fields = _stat(p)
            if fields is not None:
                total += _rss_bytes(fields)
        self.peak_rss = max(self.peak_rss, total)

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per process class. Workers include the
        CPU of workers that already exited (their parent's reaped-child
        time)."""
        drv = _stat(self.driver)
        jvm = _stat(self.jvm) if self.jvm else None
        workers = 0.0
        for p in self.workers():
            fields = _stat(p)
            if fields is not None:
                workers += _cpu_s(fields, children=True)
        return {
            "proc.driver_cpu_s": _cpu_s(drv, children=False) if drv else 0.0,
            "proc.jvm_cpu_s": _cpu_s(jvm, children=False) if jvm else 0.0,
            "proc.pyworker_cpu_s": workers,
        }
