"""In-memory span recorder for the traced run, plus the arithmetic on it.

A span is one call into a library layer: name, start, end, parent and
the benchmark job it belongs to. Spans are opened around calls made from
the benchmark's own files; where the library calls a public function
internally (``crawl`` inside ``FileTriggeredWorkflow.fire``), ``patch``
swaps the attribute the caller looks up for a recording wrapper for the
duration of the run. The library source is never edited.

The client is a closed loop: one job at a time, but a streaming
``foreachBatch`` callback runs on another thread while the main thread
waits inside ``run_once``. So the open-span stack is shared by all
threads rather than thread-local, which nests the callback's spans under
``run_once`` as they are in time.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool = True, clock=time.time):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._job: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1].sid if self._stack else None
            s = Span(len(self.spans), name, self.clock(), parent=parent,
                     job=self._job, attrs=attrs)
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s.end = self.clock()
                self._stack.remove(s)

    @contextmanager
    def job(self, job_id: int, name: str, **attrs):
        """Root span of one benchmark job; nested spans carry ``job_id``."""
        self._job = job_id
        try:
            with self.span(name, **attrs) as s:
                yield s
        finally:
            self._job = None

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or method) with a wrapper
        that records a span named ``name`` around every call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                s.attrs["result"] = out
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in kids.get(s.sid, ()) if b > s.start and a < s.end]
        out[s.sid] = s.duration - union_length(clipped)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.sid]
    return out


def coverage_gap(spans: list[Span]) -> float:
    """Largest |sum of self times of a job's spans - the job's wall time|
    over all jobs. The root span's self time is the time no layer span
    covers, so for properly nested spans this is 0 up to rounding."""
    st = self_times(spans)
    roots = {s.job: s for s in spans if s.parent is None and s.job is not None}
    worst = 0.0
    for job, root in roots.items():
        total = sum(st[s.sid] for s in spans if s.job == job)
        worst = max(worst, abs(total - root.duration))
    return worst

