"""Percentiles and the sample-count rule."""

import pytest

from benchmark import stats


def test_percentile_interpolates_like_numpy_default():
    xs = [10.0, 1.0, 4.0, 7.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 10.0
    assert stats.percentile(xs, 50) == pytest.approx(5.5)
    # rank 0.9 · 3 = 2.7 → 7 + 0.7 · (10 − 7)
    assert stats.percentile(xs, 90) == pytest.approx(9.1)


def test_percentile_of_one_sample_and_of_none():
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_rule_needs_ten_samples_beyond_the_percentile():
    assert stats.tail_supported(100, 90)
    assert not stats.tail_supported(99, 90)
    assert stats.tail_supported(20, 50)
    assert not stats.tail_supported(19, 50)
    assert stats.highest_supported_percentile(1000) == 99.0
    assert stats.highest_supported_percentile(200) == 95.0
    assert stats.highest_supported_percentile(40) == 75.0
    assert stats.highest_supported_percentile(12) is None


def test_median_is_the_50th_percentile():
    assert stats.median([5.0, 1.0, 3.0]) == 3.0
    assert stats.median([4.0, 1.0]) == pytest.approx(2.5)


def test_kind_percentile_averages_each_kinds_own_percentile():
    by_kind = {"fast": [1.0, 2.0, 3.0], "slow": [10.0, 30.0, 20.0], "unused": []}
    assert stats.kind_percentile(by_kind, 50) == pytest.approx((2.0 + 20.0) / 2)
    # one kind: the plain percentile
    assert stats.kind_percentile({"": [4.0, 1.0]}, 50) == pytest.approx(2.5)
    # pooled, one more fast sample moves the median from 6.5 to 3; this does not
    by_kind["fast"].append(2.0)
    assert stats.kind_percentile(by_kind, 50) == pytest.approx((2.0 + 20.0) / 2)
    with pytest.raises(ValueError):
        stats.kind_percentile({"a": []}, 50)
