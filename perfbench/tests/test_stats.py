"""Order statistics: geomean weighting and the p90 sample-count rule."""

import math
import statistics

import pytest

from perfbench import stats


def test_geomean_weighs_every_value_the_same():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    # scaling one query by k scales the geomean by k ** (1 / n), whatever its size
    base = [0.1, 1.0, 10.0]
    slow_small = stats.geomean([0.2, 1.0, 10.0])
    slow_large = stats.geomean([0.1, 1.0, 20.0])
    assert slow_small == pytest.approx(slow_large)
    assert slow_small / stats.geomean(base) == pytest.approx(2 ** (1 / 3))


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [1.0, -2.0]])
def test_geomean_rejects_empty_and_nonpositive(bad):
    with pytest.raises(ValueError):
        stats.geomean(bad)


def test_percentile_is_nearest_rank_and_a_measured_value():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 0.9) == 90
    assert stats.percentile(values, 0.5) == 50
    assert stats.percentile([3.0], 0.9) == 3.0
    shuffled = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(shuffled, 0.9) in shuffled
    assert stats.percentile(shuffled, 0.9) == 5.0


def test_p90_sample_count_rule():
    # ten samples beyond the 90th percentile need one hundred samples
    assert stats.n_beyond(100, 0.9) == 10
    assert stats.n_beyond(99, 0.9) == 9
    assert stats.n_beyond(30, 0.9) == 3
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.99) == 1000
    for n in (1, 7, 50, 101, 1000):
        beyond = stats.n_beyond(n, 0.9)
        values = list(range(n))
        p = stats.percentile(values, 0.9)
        assert sum(v > p for v in values) == beyond


def test_spread_uses_statistics_quartiles():
    values = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.1, 9.9, 10.4]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx((q3 - q1) / statistics.median(values))
    assert stats.spread([4.0] * 10) == 0.0
    assert math.isfinite(stats.spread([1.0, 2.0]))


def test_timed_pass_count_depends_on_seconds_only():
    from perfbench.worker import timed_passes

    assert timed_passes(15, 5.0) == 3
    assert timed_passes(15, 6.5) == 3  # enough passes to fill the seconds
    assert timed_passes(1, 5.0) == 2  # never fewer than two
    assert timed_passes(60, 5.0) == 12
