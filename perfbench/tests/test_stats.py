"""The timing summary rule: median plus the highest percentile with at
least ten samples beyond it; never the minimum."""

import pytest

from stats import geomean, percentile, spread, summarize, tail_percentile


@pytest.mark.parametrize("n, tail", [(5, None), (39, None), (40, 75.0), (100, 90.0),
                                     (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_has_ten_samples_beyond(n, tail):
    assert tail_percentile(n) == tail


def test_summarize_reports_median_and_tail_not_min():
    xs = list(range(1, 101))
    s = summarize(reversed(xs))
    assert s == {"n": 100, "p50": 50.5, "p90": 90}
    assert sum(x > s["p90"] for x in xs) == 10
    assert min(xs) not in s.values()


def test_summarize_small_sample_has_no_tail():
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    assert summarize([]) == {"n": 0}


def test_percentile_nearest_rank():
    assert percentile([5, 1, 4, 2, 3], 50) == 3
    assert percentile([5, 1, 4, 2, 3], 100) == 5
    assert percentile([5, 1, 4, 2, 3], 1) == 1


def test_spread_and_geomean():
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert spread([8, 9, 10, 11, 12]) == pytest.approx(0.3)
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
