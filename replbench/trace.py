"""Spans, Spark event-log attribution and process accounting.

Spans are recorded in memory by :class:`Tracer` around calls into the
program's public functions; engine-internal call sites are wrapped as module
attributes from outside (:func:`wrapped`), never edited.  Spark jobs are
read back from the event log after the session stops and attributed to the
innermost span that was open when each job was submitted.  All times are
epoch seconds so spans and event-log timestamps share one clock.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing but still
    hands out spans, so timed code reads the same in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def innermost(self, t: float) -> Span | None:
        """The latest-started span open at ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best


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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval that
    its direct children cover (children clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.sid, [])
            if c.end > s.start and c.start < s.end
        )
        out[s.sid] = s.dur - covered
    return out


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Temporarily replace ``module.attr`` with a span-recording wrapper for
    each ``(module, attr, span_name)``; restores the originals on exit.  The
    call's positional arguments are kept in the span's ``args`` attribute."""
    saved = []
    try:
        for mod, attr, span_name in targets:
            orig = getattr(mod, attr)

            def wrapper(*a, __orig=orig, __name=span_name, **kw):
                with tracer.span(__name, args=a):
                    return __orig(*a, **kw)

            saved.append((mod, attr, orig))
            if tracer.enabled:
                setattr(mod, attr, wrapper)
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


# --------------------------------------------------------------------------
# Spark event log


@dataclass
class Stage:
    sid: int
    scopes: set[str]
    task_ms: list[float] = field(default_factory=list)  # wall per task
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0


@dataclass
class Job:
    jid: int
    start: float
    end: float
    stages: list[Stage]


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs (with their stages and task metrics) from the uncompressed event
    log files under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    st = []
                    for info in e["Stage Infos"]:
                        scopes = {
                            json.loads(r["Scope"])["name"]
                            for r in info["RDD Info"]
                            if r.get("Scope")
                        }
                        stage = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], scopes))
                        st.append(stage)
                    t = e["Submission Time"] / 1000.0
                    jobs[e["Job ID"]] = Job(e["Job ID"], t, t, st)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    stage = stages.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if stage is None or not m:
                        continue
                    info = e["Task Info"]
                    stage.task_ms.append(float(info["Finish Time"] - info["Launch Time"]))
                    stage.run_ms += m["Executor Run Time"]
                    stage.cpu_ms += m["Executor CPU Time"] / 1e6
                    stage.gc_ms += m["JVM GC Time"]
                    stage.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    return sorted(jobs.values(), key=lambda j: j.jid)


def job_stats(jobs: list[Job]) -> dict:
    """Totals over a set of jobs (each stage counted once)."""
    seen: dict[int, Stage] = {}
    for j in jobs:
        for s in j.stages:
            seen[s.sid] = s
    st = list(seen.values())
    return {
        "jobs": len(jobs),
        "stages": sum(1 for s in st if s.task_ms),
        "tasks": sum(len(s.task_ms) for s in st),
        "task_ms": sum(s.run_ms for s in st),
        "cpu_ms": sum(s.cpu_ms for s in st),
        "gc_ms": sum(s.gc_ms for s in st),
        "shuffle_write_bytes": sum(s.shuffle_write for s in st),
        "max_task_ms": max((max(s.task_ms) for s in st if s.task_ms), default=0.0),
    }


def stages_with(jobs: list[Job], scope: str, present: bool = True) -> list[Stage]:
    """Stages of ``jobs`` whose physical operators include (or, with
    ``present=False``, exclude) ``scope``."""
    out: dict[int, Stage] = {}
    for j in jobs:
        for s in j.stages:
            if (scope in s.scopes) == present:
                out[s.sid] = s
    return list(out.values())


def driver_gap(spans: list[Span], jobs: list[Job]) -> float:
    """Seconds of the spans' wall time not covered by any job interval."""
    total = 0.0
    for sp in spans:
        inside = [
            (max(j.start, sp.start), min(j.end, sp.end))
            for j in jobs
            if j.end > sp.start and j.start < sp.end
        ]
        total += sp.dur - union_length(inside)
    return total


# --------------------------------------------------------------------------
# process tree: resident memory and CPU time from /proc


def _children(pid: int) -> list[int]:
    out = []
    for tdir in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(tdir) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> dict[int, int | None]:
    """``root`` (default: this process) and all of its descendants, each
    mapped to its parent."""
    root = root or os.getpid()
    todo, seen = [(root, None)], {}
    while todo:
        pid, parent = todo.pop()
        seen[pid] = parent
        todo.extend((c, pid) for c in _children(pid))
    return seen


def _statm(pid: int) -> list[int] | None:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return [int(x) for x in fh.read().split()]
    except (OSError, ValueError):
        return None


def rss_bytes(tree: dict[int, int | None]) -> dict[int, int]:
    """Resident bytes per live process of ``tree``.  A child whose memory
    counters equal its parent's is a spawn caught before its exec, still on
    the parent's address space, and is not counted twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    statm = {pid: _statm(pid) for pid in tree}
    return {
        pid: m[1] * page
        for pid, m in statm.items()
        if m is not None and m != statm.get(tree[pid])
    }


def tree_cpu_seconds(pids) -> float:
    """User + system CPU of the processes, including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


class RssSampler:
    """Background thread sampling the resident memory of the whole process
    tree (driver, JVM, Python workers); ``peak_bytes`` is the largest sum and
    ``peak_mb`` its split per process at that moment.  The tree itself is
    re-walked every ``rescan`` samples."""

    def __init__(self, interval: float = 0.1, rescan: int = 10):
        self.interval = interval
        self.rescan = rescan
        self.peak_bytes = 0
        self.peak_mb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        i, tree = 0, {}
        while not self._stop.is_set():
            if i % self.rescan == 0:
                tree = process_tree()
            rss = rss_bytes(tree)
            if sum(rss.values()) > self.peak_bytes:
                self.peak_bytes = sum(rss.values())
                self.peak_mb = sorted((v >> 20 for v in rss.values()), reverse=True)
            i += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
