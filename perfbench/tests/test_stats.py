"""The tail-percentile rule: a reported p90 keeps ten samples beyond it."""

import statistics

import stats


def test_p90_needs_ten_samples_beyond():
    assert stats.min_samples_for(0.9) == 100
    assert stats.tail_percentile(list(range(99)), 0.9) is None
    assert stats.tail_percentile(list(range(100)), 0.9) == 89.0


def test_reported_tail_keeps_min_tail_beyond_rank():
    for n in range(1, 400):
        vals = [float(x) for x in range(n)]
        p = stats.tail_percentile(vals, 0.9)
        if p is not None:
            assert sum(v > p for v in vals) >= stats.MIN_TAIL_SAMPLES


def test_p50_and_spread():
    assert stats.tail_percentile([3.0, 1.0, 2.0], 0.5, min_tail=1) == 2.0
    vals = [10.0, 11.0, 9.0, 10.5, 9.5]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == (q3 - q1) / med
    assert stats.median(vals) == 10.0
