"""Metric arithmetic of the benchmark: pure functions over numbers and spans,
so it can be unit-tested without Spark (``perfbench/tests``)."""

from __future__ import annotations

import statistics
from dataclasses import dataclass

#: The tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


@dataclass(frozen=True)
class Span:
    """One timed call across a layer boundary. ``parent`` is the index of
    the enclosing span in the same list (None at the top)."""

    name: str
    start: float
    end: float
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass(frozen=True)
class Tail:
    value: float
    name: str  # e.g. "p90"
    samples: int
    beyond: int


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> Tail | None:
    """The highest percentile of ``values`` that still has at least
    TAIL_BEYOND samples above it: with n sorted samples that is the
    (n - TAIL_BEYOND)-th, i.e. p90 of 100 samples and p99 of 1000. None when
    that percentile would lie below the median (fewer than 2 x TAIL_BEYOND
    samples): such a sample supports no tail."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return None
    i = n - TAIL_BEYOND - 1
    return Tail(xs[i], f"p{100.0 * (i + 1) / n:.0f}", n, n - 1 - i)


def fastest_by_kind(samples: list[tuple[str, float]]) -> dict[str, float]:
    """Each op kind's lowest latency. A busy host only ever adds time to an
    op, so the fastest repetition is the one least disturbed by it."""
    out: dict[str, float] = {}
    for kind, value in samples:
        out[kind] = min(value, out.get(kind, value))
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - _covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


def outer_totals(spans: list[Span]) -> dict[str, tuple[int, float]]:
    """Per span name: how many spans have no enclosing span of the same name,
    and their summed duration, so a layer that calls itself is counted
    once."""
    out: dict[str, tuple[int, float]] = {}
    for s in spans:
        p = s.parent
        while p is not None and spans[p].name != s.name:
            p = spans[p].parent
        if p is None:
            n, t = out.get(s.name, (0, 0.0))
            out[s.name] = (n + 1, t + s.duration)
    return out


def utilization(busy_s: float, wall_s: float, cores: int) -> float:
    """Share of the cores' capacity over ``wall_s`` that was busy."""
    return busy_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def ratio(part: float, base: float) -> float:
    return part / base if base else 0.0
