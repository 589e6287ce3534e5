"""Spans, self time and the small statistics the benchmark reports.

Spans are recorded by the benchmark around its calls into the engine's
public functions (never inside the engine).  They stay in memory and are
summarised when the run ends.
"""

from __future__ import annotations

import math
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str


@dataclass
class Tracer:
    """Records one span per layer call when enabled; a no-op otherwise."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    own_s: float = 0.0   # time spent in the tracer's own bookkeeping
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent].op if parent is not None else name
        sid = len(self.spans)
        rec = Span(name, 0.0, None, parent, op)
        self.spans.append(rec)
        self._stack.append(sid)
        rec.start = time.perf_counter()
        self.own_s += rec.start - t_in
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self.own_s += time.perf_counter() - rec.end

    def self_times(self) -> dict[str, list[float]]:
        """Layer name → self time of each of its spans, in call order."""
        out: dict[str, list[float]] = {}
        for s, t in zip(self.spans, self_times(self.spans)):
            out.setdefault(s.name, []).append(t)
        return out


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def percentile_with_tail(samples: list[float], q: float,
                         min_tail: int = 10) -> float | None:
    """Nearest-rank ``q`` percentile, or None when fewer than
    ``min_tail`` samples lie beyond it (too few to place the tail)."""
    if not samples:
        return None
    xs = sorted(samples)
    idx = max(0, math.ceil(q * len(xs)) - 1)
    if len(xs) - (idx + 1) < min_tail:
        return None
    return xs[idx]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def halves_ratio(walls: list[float]) -> float | None:
    """Median of the second half of a timed window over the median of
    its first half (1.0 = no drift); None with fewer than two samples."""
    if len(walls) < 2:
        return None
    h = len(walls) // 2
    return median(walls[len(walls) - h:]) / median(walls[:h])


@dataclass
class Outcomes:
    """Operations attempted and failed (raised or returned a wrong
    result) over a run: the timed loop and the correctness gate."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def call(self, fn, what: str):
        """Runs one operation and returns its result; an exception
        counts the operation as failed and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as ex:  # the run must survive to report failures
            traceback.print_exc()
            self.wrong(f"{what}: {type(ex).__name__}: {ex}")
            return None

    def wrong(self, what: str) -> None:
        """Marks an already attempted operation's result as wrong."""
        self.failed += 1
        self.errors.append(what)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
