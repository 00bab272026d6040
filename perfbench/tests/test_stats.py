import pytest

import stats


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_nearest_rank_percentile():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 99) == 99.0
    assert stats.percentile([5.0], 90) == 5.0


@pytest.mark.parametrize(
    "n, p, beyond",
    [(100, 90, 10), (99, 90, 9), (1000, 99, 10), (999, 99, 9), (10, 50, 5), (1, 90, 0)],
)
def test_samples_beyond(n, p, beyond):
    assert stats.samples_beyond(n, p) == beyond
    assert stats.reportable(n, p) == (beyond >= stats.MIN_BEYOND)


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 99) is None
    p, v = stats.tail([float(v) for v in range(1, 101)])
    assert (p, v) == (90.0, 90.0)
    p, _ = stats.tail([float(v) for v in range(1000)])
    assert p == 99.0
