"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start and end (epoch seconds, the clock Spark's
event log uses), its parent span and a request id shared by every span of
one operation. While a span is open, Spark jobs submitted from its thread
carry the job description ``bench:<workload>:<span name>``, which is how
the event-log reader attributes jobs to layers. With tracing off every
call is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    rid: int | None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()  # pool threads open spans too
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _label(self, idx: int | None) -> None:
        name = self.spans[idx].name if idx is not None else "untraced"
        self.sc.setJobDescription(f"bench:{self.workload}:{name}")

    def begin(self, name: str, rid: int | None = None) -> int | None:
        """Open a span; spans opened by pool threads hang under the main
        thread's innermost open span."""
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        with self._lock:
            self.spans.append(Span(name, time.time(), None, parent, rid))
            idx = len(self.spans) - 1
        stack.append(idx)
        self._label(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.time()
        stack = self._stack()
        stack.remove(idx)
        self._label(stack[-1] if stack else None)

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        idx = self.begin(name, rid)
        try:
            yield
        finally:
            self.end(idx)

    def self_times(self) -> list[float]:
        """Per span: duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            kids = [
                (max(lo, s.start), min(hi, s.end))
                for lo, hi in children.get(i, [])
                if hi > s.start and lo < s.end
            ]
            out.append((s.end - s.start) - union_length(kids))
        return out

    def as_records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
