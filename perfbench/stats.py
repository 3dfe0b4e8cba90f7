"""Pure-Python helpers: percentiles, metric names, and trace spans.

Nothing here touches Spark, so the rules the benchmark reports by can be
unit-tested on their own (``perfbench/tests/test_stats.py``).
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass, field

#: metric names the benchmark may emit
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: a percentile is reported only with at least this many samples beyond it
MIN_TAIL = 10


def check_name(name: str) -> str:
    """Return ``name`` if it fits the metric-name grammar, else raise."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100, nearest-rank), or None when
    fewer than ``MIN_TAIL`` samples lie above it."""
    if not values or not 0 < q < 100:
        return None
    xs = sorted(values)
    rank = max(1, -(-len(xs) * q // 100))  # ceil(n*q/100)
    rank = int(rank)
    if len(xs) - rank < MIN_TAIL:
        return None
    return xs[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi) covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - _covered(kids.get(s.id, []), s.start, s.end) for s in spans
    }


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    untraced run pays only a branch per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    def add(self, name: str, op: int, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return 0
        sid = len(self.spans) + 1
        self.spans.append(Span(name, op, start, end, parent, sid, attrs))
        return sid

    def span(self, name: str, op: int, parent: int | None = None, **attrs):
        return _SpanCtx(self, name, op, parent, attrs)

    def innermost(self, op: int, start: float, end: float) -> int | None:
        """Id of the latest-starting span of ``op`` that contains
        [start, end] (where a span reported by Spark belongs)."""
        best = None
        for s in self.spans:
            if s.op == op and s.start <= start and end <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        return best.id if best else None

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.id]
        return out

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"id": s.id, "op": s.op, "name": s.name, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self": round(st[s.id], 6), **s.attrs}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: int, parent, attrs):
        self.tracer, self.name, self.op, self.parent, self.attrs = (
            tracer, name, op, parent, attrs)
        self.id: int | None = None

    def __enter__(self):
        self.start = time.time()
        t = self.tracer
        if t.enabled:
            # reserve the id now so nested spans can point at it
            self.id = len(t.spans) + 1
            if self.parent is None and t._open:
                self.parent = t._open[-1]
            t.spans.append(
                Span(self.name, self.op, self.start, self.start, self.parent,
                     self.id, self.attrs))
            t._open.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.id is not None:
            self.tracer.spans[self.id - 1].end = self.end
            self.tracer._open.pop()
        return False
