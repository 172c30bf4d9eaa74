"""In-memory spans and process-tree memory sampling for the benchmark.

The tracer records a span around each call the benchmark makes into the
program: name, start, end, parent span and the run id shared by every
span of one run, plus counts attached at the same boundary. Spans stay
in memory and are written out once, at the end of the run. A layer's
self time is its span's duration minus the part of that interval its
child spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "counts")

    def __init__(self, span_id, name, parent):
        self.id = span_id
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.counts = {}

    @property
    def dt(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    """``enabled=False`` still times each span (callers read ``dt``) but
    keeps nothing, so an untraced run pays two clock reads per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, name, parent)
        self._next += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)

    def self_times(self) -> dict:
        """Total self time per span name, in seconds."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out: dict = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] = out.get(s.name, 0.0) + (s.dt - covered)
        return out

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {"run_id": self.run_id, "id": s.id, "name": s.name,
             "parent": s.parent, "start_s": s.start - t0, "end_s": s.end - t0,
             "counts": s.counts}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows,
                       "self_s": self.self_times()}, fh, indent=1)


def _stat(pid) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return stat.rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``, read from /proc."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(entry)
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, frontier = [], [pid]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and its live
    descendants, including children they have reaped. CPU time a shared
    host gives to other guests (steal) is not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *descendants(pid)]:
        fields = _stat(p)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the summed resident memory of this
    process and all its descendants (driver, JVM, Python workers)."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval_s)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
