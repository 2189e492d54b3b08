import statistics

import pytest

from perfbench import stats


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 75) == 4.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    q = statistics.quantiles(range(1, 12), n=4, method="inclusive")
    assert stats.percentile(list(range(1, 12)), 25) == q[0]


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_hd_percentile_is_a_weighted_mean_of_order_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.hd_percentile(xs, 50) == pytest.approx(3.0)  # symmetric weights
    assert stats.hd_percentile([2.5] * 7, 60) == pytest.approx(2.5)
    assert stats.hd_percentile(xs, 0) == 1.0
    assert stats.hd_percentile(xs, 100) == 5.0
    assert stats.hd_percentile([7.0], 60) == 7.0
    ps = [10, 25, 50, 60, 75, 90]
    est = [stats.hd_percentile(xs, p) for p in ps]
    assert est == sorted(est) and 1.0 < est[0] and est[-1] < 5.0


def test_hd_percentile_does_not_jump_across_a_gap():
    """Two clusters with the 50th percentile between them: moving one
    sample across the gap moves the linear percentile by the whole gap,
    the Harrell-Davis estimate by a fraction of it."""
    lo, hi = [1.0] * 12, [2.0] * 12
    a, b = lo + hi, lo[:-1] + hi + [2.0]
    assert stats.percentile(b, 50) - stats.percentile(a, 50) == pytest.approx(0.5)
    assert 0 < stats.hd_percentile(b, 50) - stats.hd_percentile(a, 50) < 0.25


def test_hd_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.hd_percentile([], 50)


@pytest.mark.parametrize(
    "n, p, beyond",
    [(40, 75, 10), (31, 66, 11), (20, 50, 10), (11, 0, 10), (4, 75, 1), (1000, 99, 10)],
)
def test_samples_beyond(n, p, beyond):
    assert stats.samples_beyond(n, p) == beyond
    xs = list(range(n))
    assert sum(1 for x in xs if x > stats.percentile(xs, p)) == beyond


@pytest.mark.parametrize(
    "n, want",
    [(10, None), (21, 50.0), (24, 60.0), (31, 66.0), (40, 75.0), (51, 80.0), (101, 90.0), (201, 95.0), (1001, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.samples_beyond(n, want) >= 10
