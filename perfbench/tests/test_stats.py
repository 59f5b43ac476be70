"""The benchmark's summary statistics on hand-made samples."""

import pytest

from hkbench import stats


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 41)]  # 1..40
    value, pct, n = stats.tail(values)
    # exactly 10 samples (31..40) lie beyond 30, the 75th percentile
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(v > value for v in values) == stats.TAIL_BEYOND


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    value, pct, n = stats.tail([float(v) for v in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_ignores_sample_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
    assert stats.tail(values) == stats.tail(sorted(values))


def test_recall_at_k():
    exact = ["a", "b", "c", "d"]
    assert stats.recall_at_k(exact, ["d", "c", "b", "a"]) == 1.0
    assert stats.recall_at_k(exact, ["a", "x", "c", "y"]) == 0.5
    assert stats.recall_at_k(exact, []) == 0.0
    with pytest.raises(ValueError):
        stats.recall_at_k([], ["a"])


def test_count_are():
    exact = {"a": 100, "b": 50, "c": 10}
    assert stats.count_are(exact, {"a": 100, "b": 50}) == 0.0
    # |90-100|/100 = 0.1 and |60-50|/50 = 0.2; "z" has no exact count
    assert stats.count_are(exact, {"a": 90, "b": 60, "z": 7}) == pytest.approx(0.15)
    with pytest.raises(ValueError):
        stats.count_are(exact, {"z": 1})


def test_error_rate_counts_raised_and_wrong():
    assert stats.error_rate(0, 0, 20) == 0.0
    assert stats.error_rate(1, 2, 12) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0, 0)
