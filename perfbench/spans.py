"""In-memory span recording and the arithmetic the report needs (no Spark).

The traced run wraps public functions of the program from outside (see
``workloads.install_spans``); nothing inside the package is instrumented.
A span records its name, start, end, parent span and request id. Spans
stay in a list while the run measures; the report line of a traced run
writes them out at the end.
"""

from __future__ import annotations

import functools
import math
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    request: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans while ``enabled``; otherwise each wrapper costs one
    attribute test. Single client thread: the open-span stack is plain."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.request: int | None = None
        self._stack: list[Span] = []

    def open(self, name: str) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans), parent, self.request, name, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()

    def wrap(self, fn, name: str):
        """``fn`` recording a span named ``name`` around each call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    def patch(self, owner, attr: str, name: str, undo: list) -> None:
        """Replace ``owner.attr`` by its traced wrapper; ``undo`` collects
        the originals so the caller can restore them."""
        original = getattr(owner, attr)
        undo.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name: each span's duration minus its direct
    children's, summed by name. A span's id is its position in ``spans``.
    Spans come from one LIFO stack, so children lie inside their parent and
    never overlap each other."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        if s.parent is not None:
            parent = spans[s.parent].name
            out[parent] = out.get(parent, 0.0) - (s.end - s.start)
    return out


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n) for the highest nearest-rank percentile that
    has at least ten samples above its rank, or None below eleven samples.
    For n samples that rank is n-11 (0-based), the percentile 100(n-10)/n."""
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    return 100.0 * (n - 10) / n, ordered[n - 11], n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def cost_per_span(calls: int = 20000) -> float:
    """Seconds one recorded span adds to a call, measured on a no-op."""
    tracer = Tracer()
    tracer.enabled = True
    plain = lambda: None  # noqa: E731
    traced = tracer.wrap(plain, "probe")
    t0 = time.perf_counter()
    for _ in range(calls):
        plain()
    t1 = time.perf_counter()
    for _ in range(calls):
        traced()
    t2 = time.perf_counter()
    return max((t2 - t1) - (t1 - t0), 0.0) / calls
