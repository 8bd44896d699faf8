"""The percentile rule and the spread the benchmark is held to."""

import numpy as np
import pytest

from perfbench.stats import percentile, spread, tail_percentile


@pytest.mark.parametrize("n, p", [
    (9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert round(n * (100 - p) / 100, 6) >= 10


@pytest.mark.parametrize("p", [0, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy(p):
    xs = list(np.random.default_rng(3).lognormal(size=37))
    assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_spread_is_interquartile_range_over_median():
    # statistics.quantiles(n=4) on 1..10 gives q1=2.75, q3=8.25; median 5.5
    assert spread([float(x) for x in range(1, 11)]) == pytest.approx((8.25 - 2.75) / 5.5)
    assert spread([2.0] * 10) == 0.0
