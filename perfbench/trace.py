"""In-memory spans around the package's public calls, Spark task
metrics from the event log, and the arithmetic that joins the two.

Spans are recorded by wrapping public functions from the benchmark's
side (nothing inside the package is instrumented). A span is just a
name and a wall-clock interval: parentage and job ownership are worked
out afterwards by interval containment, which stays correct when the
package runs a call on another thread (``foreachBatch`` callbacks run
on the streaming query's thread, where thread-local job groups do not
follow them).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

# Event-log timestamps are whole milliseconds; a job submitted in the
# same millisecond a span opens still belongs to it.
EPS = 0.0015


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int
    result: Any = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    """One Spark job with its tasks' metrics summed over its stages."""

    job_id: int
    submit: float
    end: float
    metrics: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Collects spans while ``active``; ``op`` tags each span with the
    measured operation it belongs to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self._lock = threading.Lock()
        self._restore: list[Callable[[], None]] = []

    def record(self, name: str, start: float, end: float, result: Any = None) -> Span:
        span = Span(name, start, end, self.op, result)
        with self._lock:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        """Record the enclosed block as a span when tracing is active."""
        start = time.time()
        try:
            yield
        finally:
            if self.active:
                self.record(name, start, time.time())

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a recording wrapper (undone by
        :meth:`unwrap_all`). ``owner`` is the module whose global the
        package looks up at call time."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            start = time.time()
            out = fn(*args, **kwargs)
            self.record(name, start, time.time(), out)
            return out

        setattr(owner, attr, wrapper)
        self._restore.append(lambda: setattr(owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._restore:
            self._restore.pop()()


# ---------------------------------------------------------------------------
# Interval arithmetic
# ---------------------------------------------------------------------------


def _contains(outer: Span, inner: Span) -> bool:
    return (
        outer is not inner
        and outer.start - EPS <= inner.start
        and inner.end <= outer.end + EPS
        and outer.dur >= inner.dur
    )


def parents(spans: list[Span]) -> dict[int, int | None]:
    """index -> index of the innermost other span containing it."""
    out: dict[int, int | None] = {}
    for i, s in enumerate(spans):
        best = None
        for j, p in enumerate(spans):
            # Of two identical intervals the later-recorded one is the
            # outer: a span is recorded when it closes.
            if j != i and _contains(p, s) and (p.dur > s.dur or j > i):
                if best is None or p.dur < spans[best].dur:
                    best = j
        out[i] = best
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    par = parents(spans)
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for i, p in par.items():
        if p is not None:
            s = spans[i]
            kids[p].append((max(s.start, spans[p].start), min(s.end, spans[p].end)))
    return [max(0.0, s.dur - _union_length(kids[i])) for i, s in enumerate(spans)]


def assign_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span index -> jobs whose submission falls in it, innermost wins."""
    out: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start - EPS <= job.submit <= s.end + EPS:
                if best is None or s.dur < spans[best].dur:
                    best = i
        if best is not None:
            out[best].append(job)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# Task metric -> our name. Times in the log are ms, except CPU (ns).
_TASK_FIELDS = {
    "Executor CPU Time": ("cpu_s", 1e-9),
    "JVM GC Time": ("gc_s", 1e-3),
    "Disk Bytes Spilled": ("spill_bytes", 1.0),
}


def _event_files(log_dir: Path) -> list[Path]:
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    # Rolling logs are events_<n>_<app>; order by that index.
    def key(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    return sorted(files, key=key)


def read_event_log(log_dir: Path) -> list[Job]:
    """Jobs of the application logged under ``log_dir`` (uncompressed)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = Job(jid, ev["Submission Time"] / 1000, float("inf"), defaultdict(float))
                    for sid in ev.get("Stage IDs", []):
                        # A stage reused by a later job is skipped there;
                        # its tasks ran for the first job listing it.
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    m = jobs[jid].metrics
                    m["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        m["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for src, (dst, scale) in _TASK_FIELDS.items():
                        m[dst] += tm.get(src, 0) * scale
                    m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    m["input_rows"] += tm.get("Input Metrics", {}).get("Records Read", 0)
                    m["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                    m["output_rows"] += tm.get("Output Metrics", {}).get("Records Written", 0)
                    sw = tm.get("Shuffle Write Metrics", {})
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)
