import numpy as np
import pytest

from perfbench.stats import MIN_BEYOND, median, quantile, summary, tail_percentile


@pytest.mark.parametrize("n", [1, 2, 5, 10, 37])
def test_quantile_matches_numpy_linear(n):
    xs = list(np.random.default_rng(n).random(n))
    for q in (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0):
        assert quantile(xs, q) == pytest.approx(float(np.quantile(xs, q)))


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_quantile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        quantile([], 0.5)
    with pytest.raises(ValueError):
        quantile([1.0], 1.5)


@pytest.mark.parametrize("n,want", [
    (1, None), (19, None),  # the median has fewer than 10 samples beyond it
    (20, 50), (21, 52), (40, 75), (100, 90), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_rule_holds_exactly_at_the_edge():
    for n in range(20, 300):
        p = tail_percentile(n)
        beyond = lambda q: n - int(np.ceil(q / 100 * n))  # noqa: E731
        assert beyond(p) >= MIN_BEYOND
        assert p == 99 or beyond(p + 1) < MIN_BEYOND


def test_summary_reports_tail_only_when_it_qualifies():
    assert set(summary([1.0] * 12)) == {"n", "p50", "samples"}
    s = summary(list(range(40)))
    assert s["n"] == 40 and "p75" in s
    assert s["p75"] == pytest.approx(float(np.quantile(range(40), 0.75)))
