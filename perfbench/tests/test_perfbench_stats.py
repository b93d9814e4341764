"""The tail rule: the highest percentile with at least ten samples beyond it."""

import pytest

import stats


def test_no_tail_below_eleven_samples():
    assert stats.tail([float(i) for i in range(10)]) is None


def test_eleven_samples_give_the_smallest():
    value, pct, n = stats.tail([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_hundred_samples_give_p90_with_ten_beyond():
    values = [float(i) for i in range(100, 0, -1)]
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10

