"""Percentile selection for the benchmark's tail latencies."""

import pytest

import stats


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(10, 0, -1)]
    assert stats.percentile(values, 50) == 5.0
    assert stats.percentile(values, 90) == 9.0
    assert stats.percentile(values, 100) == 10.0
    assert stats.percentile([7.0], 75) == 7.0


@pytest.mark.parametrize("p", [0, -5, 100.1])
def test_percentile_rejects_out_of_range(p):
    with pytest.raises(ValueError):
        stats.percentile([1.0, 2.0], p)


def test_percentile_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, p, beyond",
    [(100, 90, 10), (99, 90, 9), (40, 75, 10), (39, 75, 9), (1000, 99, 10)],
)
def test_samples_beyond(n, p, beyond):
    assert stats.samples_beyond(n, p) == beyond


@pytest.mark.parametrize("n, enough", [(40, True), (39, False), (100, True), (10, False)])
def test_p75_needs_ten_samples_beyond(n, enough):
    assert (stats.samples_beyond(n, 75) >= stats.MIN_BEYOND) == enough


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    values = [float(v) for v in range(1, 11)]
    q1, _, q3 = 2.75, 5.5, 8.25
    assert stats.spread(values) == pytest.approx((q3 - q1) / 5.5)
