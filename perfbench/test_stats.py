"""Tests of the benchmark's statistics helpers: python3 -m pytest perfbench"""
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    got = stats.tail(range(1, 101))
    assert got == {'value': 90.0, 'percentile': 90.0, 'n': 100}
    assert sum(1 for x in range(1, 101) if x > got['value']) == 10


def test_tail_of_large_sample_is_high_percentile():
    got = stats.tail(range(1000))
    assert got['percentile'] == 99.0
    assert sum(1 for x in range(1000) if x > got['value']) == 10


def test_tail_never_below_median():
    got = stats.tail(range(1, 16))          # n - 10 = 5 would sit below p50
    assert got['value'] == 8.0 and got['percentile'] == pytest.approx(53.3)


def test_tail_without_support_is_the_median_rank():
    got = stats.tail([3.0, 1.0, 2.0])
    assert got == {'value': 2.0, 'percentile': pytest.approx(66.7), 'n': 3}
    assert stats.tail([4.0, 1.0, 3.0, 2.0])['value'] == 2.0


def test_tail_is_order_independent():
    xs = [0.5, 0.1, 0.9, 0.3] * 10
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_failure_ratio():
    assert stats.failure_ratio(0, 40) == 0.0
    assert stats.failure_ratio(1, 4) == 0.25
    with pytest.raises(ValueError):
        stats.failure_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failure_ratio(5, 4)
