"""In-memory spans for the traced run.

A span has a name, a start and an end (epoch seconds), the span that caused
it and the job-group id of the pass it belongs to. Spans stay in memory and
are written out once, when the run ends. A span's self time is its duration
minus the part of its interval that its children cover.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    group: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
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


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name: str, group: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        span = Span(next(self._ids), parent.span_id if parent else None,
                    name, group, start, end, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, group: str, parent: Span | None = None, **attrs):
        """Time the body; the span is recorded even if the body raises."""
        span = self.add(name, group, time.time(), float("nan"), parent, **attrs)
        try:
            yield span
        finally:
            span.end = time.time()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered_length(kids, span.start, span.end)

    def records(self) -> list[dict]:
        return [
            {**asdict(s), "duration_s": s.duration, "self_s": self.self_time(s)}
            for s in self.spans
        ]
