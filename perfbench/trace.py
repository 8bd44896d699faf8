"""Spans recorded from the benchmark's side of each call into a layer.

A span holds a name, start, end, its parent span and the run id. Spans and
counts stay in memory; ``Tracer.dump`` writes them when the run ends. The
engine is not edited: a layer is timed by wrapping the public function or
object the workload calls (``Tracer.patched``) or by a ``with
tracer.span(...)`` block around the call.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Iterable

from perfbench.stats import median, percentile, tail_percentile


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> the span's duration minus the part of its interval that
    its direct children cover (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.span_id: s.duration - _covered(((c.start, c.end) for c in children.get(s.span_id, ())),
                                         s.start, s.end)
        for s in spans
    }


class Tracer:
    def __init__(self, run_id: str | None = None, clock: Callable[[], float] = time.perf_counter):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.clock = clock
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs: Any):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.count(name + ".calls")
        start = self.clock()
        self._stack.append(sid)
        # reserve the slot so ids follow start order
        self.spans.append(Span(sid, name, start, start, parent, self.run_id, attrs))
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = self.clock()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, fn: Callable, name: str) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def patched(self, targets: list[tuple[Any, str, str]]):
        """Replace ``obj.attr`` with a span-recording wrapper named ``name``
        for each (obj, attr, name), restoring the originals on exit."""
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for (obj, attr, name), (_, _, orig) in zip(targets, saved):
                setattr(obj, attr, self.wrap(orig, name))
            yield self
        finally:
            for obj, attr, orig in reversed(saved):
                setattr(obj, attr, orig)

    # -- summaries ------------------------------------------------------------
    def select(self, name: str, **attrs: Any) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def total(self, name: str, **attrs: Any) -> float:
        return sum(s.duration for s in self.select(name, **attrs))

    def self_total(self, name: str) -> float:
        st = self_times(self.spans)
        return sum(st[s.span_id] for s in self.spans if s.name == name)

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total and self seconds, and the median
        duration with the highest percentile that has ten calls beyond it."""
        st = self_times(self.spans)
        by_name: dict[str, list[Span]] = {}
        for s in self.spans:
            by_name.setdefault(s.name, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for name, spans in by_name.items():
            d = [s.duration for s in spans]
            out[name] = {"calls": len(spans), "total_s": sum(d),
                         "self_s": sum(st[s.span_id] for s in spans), "median_s": median(d)}
            p = tail_percentile(len(d))
            if p is not None:
                out[name][f"p{p:g}_s"] = percentile(d, p)
        return out

    def dump(self, path: str, **extra: Any) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "counts": self.counts,
                       "span_summary": self.summary(),
                       "spans": [asdict(s) for s in self.spans]}, f, indent=1)


class TimingCatalog:
    """A ``CatalogProtocol`` that records a span around each call into the
    wrapped catalog: ``catalog.commit`` (attr ``table``) and
    ``catalog.read``. Everything else is delegated unchanged."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def commit(self, spark, table, df, *args, **kwargs):
        with self._tracer.span("catalog.commit", table=table):
            return self._inner.commit(spark, table, df, *args, **kwargs)

    def read(self, spark, table, snapshot_id=None):
        with self._tracer.span("catalog.read", table=table):
            return self._inner.read(spark, table, snapshot_id)

    def __getattr__(self, name):
        return getattr(self._inner, name)
