"""Metric math shared by the workloads: percentiles, self time from spans,
scaling efficiency. Pure functions, unit-tested in perfbench/tests."""

from __future__ import annotations

import statistics
from typing import Iterable, NamedTuple, Optional, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


class Tail(NamedTuple):
    percentile: float  # in (0, 100)
    value: float
    n: int  # sample count


def tail(samples: Sequence[float], beyond: int = 10) -> Optional[Tail]:
    """The highest percentile that still has at least ``beyond`` samples
    strictly above it, with its value and the sample count.

    With n sorted samples, the value at 0-based rank n - beyond - 1 has
    exactly ``beyond`` samples after it; its percentile is
    100 * (n - beyond) / n. Ties at that value move it down to the first
    rank whose value still leaves ``beyond`` larger samples. None when
    fewer than beyond + 1 samples exist."""
    n = len(samples)
    if n <= beyond:
        return None
    xs = sorted(samples)
    k = n - beyond - 1
    while k >= 0 and sum(1 for x in xs if x > xs[k]) < beyond:
        k -= 1
    if k < 0:
        return None
    return Tail(percentile=100.0 * (k + 1) / n, value=float(xs[k]), n=n)


def scaling_efficiency(rate_big: float, rate_small: float, factor: int = 4) -> float:
    """Throughput on ``factor``x the CPUs divided by ``factor`` times the
    throughput on the small side: 1.0 is linear scaling."""
    if rate_small <= 0:
        raise ValueError("small-side throughput must be positive")
    return rate_big / (factor * rate_small)


class Span(NamedTuple):
    sid: int
    name: str
    start: float
    end: float
    parent: Optional[int]


def _covered(intervals: Iterable[tuple]) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[Span]) -> dict:
    """Span id -> its duration minus the part of its interval covered by
    its direct children (clipped to the parent's interval)."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.sid] = (s.end - s.start) - _covered(kids)
    return out


def module_of(span_name: str) -> str:
    """Span names are '<module path>.<step>'; the module is everything
    before the last dot ('pipeline.driver.run' -> 'pipeline.driver')."""
    head, _, _ = span_name.rpartition(".")
    return head or span_name


def self_time_by_module(spans: Sequence[Span]) -> dict:
    st = self_times(spans)
    out: dict = {}
    for s in spans:
        m = module_of(s.name)
        out[m] = out.get(m, 0.0) + st[s.sid]
    return out
