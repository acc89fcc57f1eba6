import statistics

import pytest

from perfbench.stats import percentile, quartile_spread


def test_nearest_rank_returns_an_observed_sample():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0.5) == 3
    assert percentile(xs, 0.2) == 1
    assert percentile(xs, 0.21) == 2
    assert percentile(xs, 0.4) == 2


def test_ten_samples_must_lie_beyond_a_rank_above_the_median():
    # p90 needs 100 samples, p75 needs 40
    assert percentile(range(100), 0.9) == 89
    with pytest.raises(ValueError, match="10 required"):
        percentile(range(99), 0.9)
    assert percentile(range(40), 0.75) == 29
    with pytest.raises(ValueError):
        percentile(range(39), 0.75)


def test_the_median_is_always_reported():
    assert percentile([7.0], 0.5) == 7.0
    assert percentile(range(1, 11), 0.5) == 5


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1], 0.0)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)
