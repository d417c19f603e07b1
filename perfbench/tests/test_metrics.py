"""Unit tests for the benchmark's metric math.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from metrics import (  # noqa: E402
    Span,
    module_of,
    scaling_efficiency,
    self_time_by_module,
    self_times,
    tail,
)


def test_tail_needs_more_samples_than_beyond():
    assert tail([1.0] * 10) is None
    assert tail(list(range(10)), beyond=10) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 21)]  # 1..20
    t = tail(xs)
    assert t.value == 10.0
    assert t.percentile == 50.0
    assert t.n == 20
    assert sum(1 for x in xs if x > t.value) == 10


def test_tail_is_order_insensitive_and_grows_with_n():
    xs = [float(i) for i in range(100, 0, -1)]
    t = tail(xs)
    assert t.value == 90.0
    assert t.percentile == 90.0
    assert sum(1 for x in xs if x > t.value) == 10


def test_tail_moves_down_past_ties():
    # ranks 8..10 tie at 5.0; the 11th-from-top sample is part of the tie,
    # so the tail drops to a value with at least 10 samples strictly above
    xs = [1.0] * 5 + [5.0] * 3 + [9.0] * 9
    t = tail(xs)
    assert t.value == 1.0
    assert sum(1 for x in xs if x > t.value) >= 10


def test_tail_custom_beyond():
    t = tail([1.0, 2.0, 3.0], beyond=1)
    assert t.value == 2.0
    assert t.percentile == pytest.approx(200 / 3)


def test_scaling_efficiency_linear_and_sublinear():
    assert scaling_efficiency(400.0, 100.0) == 1.0
    assert scaling_efficiency(200.0, 100.0) == 0.5
    assert scaling_efficiency(90.0, 30.0, factor=3) == 1.0
    with pytest.raises(ValueError):
        scaling_efficiency(1.0, 0.0)


def test_self_time_subtracts_children():
    spans = [
        Span(1, "bench.op", 0.0, 10.0, None),
        Span(2, "pipeline.driver.run", 1.0, 4.0, 1),
        Span(3, "pipeline.driver.resume", 5.0, 9.0, 1),
        Span(4, "extraction.html.job", 2.0, 3.0, 2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_counted_once():
    spans = [
        Span(1, "a.x", 0.0, 10.0, None),
        Span(2, "b.y", 1.0, 6.0, 1),
        Span(3, "b.z", 4.0, 8.0, 1),
        Span(4, "c.w", 9.0, 12.0, 1),  # runs past the parent: clipped
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 7.0 - 1.0)


def test_self_time_by_module():
    spans = [
        Span(1, "bench.op", 0.0, 10.0, None),
        Span(2, "pipeline.driver.run", 0.0, 4.0, 1),
        Span(3, "pipeline.driver.resume", 4.0, 6.0, 1),
    ]
    by = self_time_by_module(spans)
    assert by == {"bench": pytest.approx(4.0), "pipeline.driver": pytest.approx(6.0)}
    assert module_of("session") == "session"
