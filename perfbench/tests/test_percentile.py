import pytest

from stats import median, percentile


def test_nearest_rank():
    values = [7, 1, 10, 3, 9, 2, 8, 4, 6, 5]
    assert percentile(values, 50) == 5
    assert percentile(values, 90) == 9
    assert percentile(values, 100) == 10
    assert percentile(values, 1) == 1
    assert median(values) == 5.5
    assert median([3, 1, 2]) == 2


def test_always_a_measured_sample():
    values = [0.25, 1.5, 0.75, 2.0]
    for p in (10, 25, 50, 60, 75, 90, 99, 100):
        assert percentile(values, p) in values
    assert percentile([3.5], 90) == 3.5


def test_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        percentile([1.0], 0)
    with pytest.raises(ValueError):
        percentile([1.0], 101)
