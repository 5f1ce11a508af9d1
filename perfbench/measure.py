"""The runner's arithmetic: percentiles with their sample rule, failure
fractions and span self time. Pure functions, no Spark."""

from __future__ import annotations

import math
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


def samples_above(values: list[float], q: float) -> int:
    """How many samples lie strictly above the nearest-rank ``q``-th
    percentile: the evidence behind a tail figure."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def tail_supported(values: list[float], q: float, need: int = 10) -> bool:
    """A ``q``-th percentile is reported as measured only when at least
    ``need`` samples lie above it."""
    return bool(values) and samples_above(values, q) >= need


def median(values: list[float]) -> float:
    """Middle value; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    return ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def failed_frac(failed: int, attempted: int) -> float:
    """Query runs that raised or mismatched their oracle, over runs attempted."""
    if attempted <= 0:
        raise ValueError("no query runs attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


@dataclass
class Span:
    """One timed interval of the run: name, start and end (seconds on one
    clock), the span that caused it, and the query id its family shares."""

    name: str
    start: float
    end: float
    parent: "Span | None" = None
    qid: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of it its child spans cover."""
    children = [(s.start, s.end) for s in spans if s.parent is span]
    return span.duration - covered(children, span.start, span.end)
