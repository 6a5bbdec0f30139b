"""Spans, resource sampling and Spark event-log attribution for the benchmark.

Spans are recorded around calls into the engine from the benchmark's own
files; nothing inside ``codeclone_spark`` is instrumented.  Spark jobs are
attributed to spans after the run by their submission time, read from the
uncompressed, non-rolling event log, so jobs submitted from the runner's
own thread pools land in the right span without per-thread job groups.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Iterator

_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder: spans nest by call order and carry the id of
    the operation they belong to.  Times are wall-clock epoch seconds so they
    compare with the event log's millisecond timestamps."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs: Any) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), parent=parent, op=op, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def _children(pid: int) -> list[int]:
    """Children forked by any thread of *pid* (the JVM forks the Python
    workers from its own threads, not its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass  # the thread ended
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    """True while *pid* exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # the process ended between listing and reading
    return total


class RssSampler:
    """Peak summed RSS of this process and every descendant (the JVM and
    its Python workers), sampled from /proc on a daemon thread."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------- event log --
@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    tasks: int = 0
    failures: int = 0
    run_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their tasks' run time, failures, shuffle and spill folded
    in.  A stage's tasks belong to the lowest-numbered job that lists the
    stage: later jobs list an already-computed stage only as skipped."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_ends: list[dict[str, Any]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = min(stage_job.get(sid, jid), jid)
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for ev in task_ends:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if job is None:
            continue
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        job.tasks += 1
        job.failures += int(bool(info.get("Failed")))
        job.run_s += m.get("Executor Run Time", 0) / 1000.0
        job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        job.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, int | None]:
    """job_id -> index of the innermost span open at the job's submission
    (None when no span was open)."""
    out: dict[int, int | None] = {}
    for j in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start <= j.submit <= s.end and (
                best is None or s.start >= spans[best].start
            ):
                best = i
        out[j.job_id] = best
    return out


def phase_windows(span: Span, phases: dict[str, float]) -> list[tuple[str, float, float]]:
    """Rebuild the runner's phase windows from the order of
    ``report["phases"]``: consecutive intervals from the call's start, the
    last one stretched to the call's end (report and baseline writes)."""
    out, t = [], span.start
    names = list(phases)
    for i, name in enumerate(names):
        end = span.end if i == len(names) - 1 else t + phases[name]
        out.append((name, t, end))
        t = end
    return out


def in_window(submit: float, windows: list[tuple[str, float, float]]) -> str:
    """Phase whose window holds *submit*; a job submitted before the first
    window opens counts to the first phase, after the last to the last."""
    for name, _lo, hi in windows:
        if submit <= hi:
            return name
    return windows[-1][0]
