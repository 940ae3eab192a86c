import statistics

from perfbench.stats import quartile_spread, summarize, tail_percentile


def test_too_few_samples_have_no_tail():
    assert tail_percentile([1.0] * 19) is None
    assert "p" not in summarize([3.0, 1.0, 2.0])
    assert summarize([3.0, 1.0, 2.0])["median"] == 2.0


def test_p50_needs_ten_samples_beyond_it():
    assert tail_percentile([float(i) for i in range(20)]) == (50.0, 9.0)


def test_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs) == (90.0, 90.0)
    xs = [float(i) for i in range(1, 1001)]
    assert tail_percentile(xs) == (99.0, 990.0)
    # 999 samples leave only 9.99 beyond p99, so p90 is the highest
    assert tail_percentile(xs[:999])[0] == 90.0


def test_quartile_spread_matches_statistics():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == (q3 - q1) / med
