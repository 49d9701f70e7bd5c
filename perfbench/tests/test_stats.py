import pytest

from stats import median, min_samples_for, percentile, samples_beyond


def test_percentile_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 95) == 95
    assert percentile(values, 100) == 100
    assert percentile([7.0], 95) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # input order does not matter


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_ten_samples_beyond_rule():
    # p95 of n samples has n - ceil(0.95 n) samples above it
    assert samples_beyond(200, 95) == 10
    assert samples_beyond(199, 95) == 9
    assert min_samples_for(95) == 200
    assert min_samples_for(99) == 1000
    assert min_samples_for(50) == 20
