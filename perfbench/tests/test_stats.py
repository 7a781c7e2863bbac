"""The tail-percentile rule behind ``latency_tail_ms``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import tail  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_is_the_highest_such_percentile():
    samples = [float(i) for i in range(1, 41)]  # 1..40
    value, pct, n = tail(samples)
    assert value == 30.0 and pct == 75.0 and n == 40
    # one rank higher would leave only nine samples beyond
    assert sum(s > 31.0 for s in samples) == 9


def test_tail_ignores_input_order():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
    assert tail(samples) == (1.0, 100 * 2 / 12, 12)


def test_tail_with_too_few_samples_is_the_maximum_at_p100():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        tail([])

