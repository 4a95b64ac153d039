"""In-memory spans and counters for the traced benchmark run.

A span records a name, a start and end time, the span that caused it and
the run id it belongs to. Spans are recorded from the benchmark's own code,
around calls into one layer's public functions; nothing inside the program
is instrumented. Everything stays in memory until ``write`` dumps it as one
JSON document when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered_length(intervals: list[tuple[float, float]], lo: float,
                   hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def prefix_self_times(cumulative: list[tuple[str, float]]) -> dict:
    """Self time of each layer from cumulative-prefix timings.

    Spark plans are lazy, so a layer cannot be timed on its own: prefix k
    runs layers 1..k as one action. Prefix k is the parent of the work in
    prefix k-1, so layer k's self time is its prefix's time minus the
    previous prefix's time. The result may be negative when a layer costs
    less than the run-to-run noise of the prefix below it.
    """
    out = {}
    prev = 0.0
    for name, total in cumulative:
        out[name] = total - prev
        prev = total
    return out


class Tracer:
    """Spans and counters of one traced run, kept in memory."""

    def __init__(self, run_id: str, clock=time.perf_counter) -> None:
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span_id = len(self.spans)
        start = self.clock()
        self.spans.append(Span(span_id, name, start, start, parent,
                               self.run_id))
        self._stack.append(span_id)
        try:
            yield self.spans[span_id]
        finally:
            self._stack.pop()
            self.spans[span_id].end = self.clock()

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of the span its children cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered_length(kids, span.start, span.end)

    def write(self, path: str, extra: dict | None = None) -> None:
        doc = {"run_id": self.run_id,
               "spans": [dict(asdict(s), self_s=self.self_time(s))
                         for s in self.spans],
               "counters": self.counters}
        doc.update(extra or {})
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)
