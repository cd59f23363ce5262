import pytest

from perfbench import stats


def test_tail_keeps_ten_samples_beyond():
    for n in (20, 21, 37, 100, 1000):
        xs = list(range(n))
        t = stats.tail(xs)
        assert sum(x > t for x in xs) == stats.TAIL_BEYOND
        assert stats.tail_percentile(n) >= 50.0


def test_tail_percentile_labels():
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0


def test_tail_falls_back_to_max_below_twenty_samples():
    for n in (1, 2, 10, 19):
        xs = [float(i) for i in range(n)]
        assert stats.tail_rank(n) == n
        assert stats.tail(list(reversed(xs))) == max(xs)
        assert stats.tail_percentile(n) == 100.0


def test_tail_needs_a_sample():
    with pytest.raises(ValueError):
        stats.tail_rank(0)
