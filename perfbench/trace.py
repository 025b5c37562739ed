"""In-memory span recorder and self-time arithmetic.

A span is one call the benchmark makes into a layer: name, start, end,
the span that caused it and the run it belongs to.  Spans stay in memory
and are written out once, when the benchmark ends.  A layer's self time
is its span's duration minus the part of that interval its child spans
cover (children may nest or overlap, so covered time is an interval
union, clipped to the parent).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: int


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op.
    Spans nest by call order: a span's parent is the innermost open one."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = 0
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), float("nan"), parent, self.run_id))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def run(self, run_id: int):
        """Root span of one run; spans opened inside share ``run_id``."""
        self.run_id = run_id
        with self.span("run"):
            yield

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans]}, f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span], run_id: int | None = None) -> dict[str, float]:
    """Sum of self time per span name (optionally for one run only)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if run_id is not None and s.run_id != run_id:
            continue
        own = (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out
