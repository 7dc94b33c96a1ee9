"""The tail-percentile rule."""

import pytest

from perfbench import stats


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    v, pct, n = stats.tail(values)
    assert (v, pct, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in values) == 10


def test_tail_is_order_free_and_counts_ties_as_samples():
    values = [5.0] * 15 + [1.0] * 5
    v, pct, n = stats.tail(list(reversed(values)))
    assert v == 5.0 and n == 20 and pct == 50.0


def test_tail_with_eleven_samples_is_the_smallest():
    values = [3.0, 1.0, 2.0] + [10.0] * 8
    assert stats.tail(values)[:2] == (1.0, pytest.approx(100 / 11))


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)
