import pytest

from perfbench import stats


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.5) == 50
    assert stats.percentile(xs, 0.9) == 90
    assert stats.percentile(xs, 1.0) == 100
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1], 0.0)


def test_percentiles_need_ten_samples_beyond():
    # p90 of 100 samples is rank 90: exactly ten lie beyond it
    assert stats.beyond(100, 0.9) == 10
    assert stats.highest_reportable_percentile(100) == 0.9
    assert stats.highest_reportable_percentile(99) < 0.9
    assert stats.highest_reportable_percentile(1000) == 0.99
    assert stats.highest_reportable_percentile(999) < 0.99
    # anything above the median needs twenty-one samples
    assert stats.highest_reportable_percentile(21) == 0.523
    assert stats.highest_reportable_percentile(20) is None
    for n in (21, 37, 150, 2000):
        q = stats.highest_reportable_percentile(n)
        assert stats.beyond(n, q) >= stats.MIN_BEYOND
        assert q == 0.999 or stats.beyond(n, q + 0.001) < stats.MIN_BEYOND


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_covered_merges_overlaps_and_clips():
    assert stats.covered(0, 10, []) == 0
    assert stats.covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert stats.covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert stats.covered(0, 10, [(11, 12), (-3, -1)]) == 0
    assert stats.covered(0, 10, [(0, 10), (2, 3)]) == 10


def test_self_time_is_duration_minus_covered_children():
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 4), (6, 9)]) == 4
    # overlapping children count once
    assert stats.self_time(0, 10, [(1, 6), (4, 8)]) == 3
    assert stats.self_time(0, 10, [(0, 10)]) == 0
