"""The tail-percentile rule and the other order statistics."""

import pytest

import stats


def test_percentile_interpolates_like_numpy():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert stats.percentile(xs, 0) == 10.0
    assert stats.percentile(xs, 100) == 40.0
    assert stats.percentile(xs, 50) == 25.0
    assert stats.percentile(xs, 90) == pytest.approx(37.0)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]          # 100 samples
    t = stats.tail(xs)
    assert t["percentile"] == 90.0 and t["beyond"] == 10
    assert t["samples"] == 100
    # with 1000 samples p99 still leaves ten above it
    t = stats.tail([float(i) for i in range(1000)])
    assert t["percentile"] == 99.0 and t["beyond"] == 10


def test_tail_never_picks_a_percentile_with_fewer_than_ten_beyond():
    for n in (20, 21, 39, 40, 41, 199, 200, 201):
        xs = [float(i) for i in range(n)]
        t = stats.tail(xs)
        assert t["beyond"] >= 10
        higher = [p for p in stats.TAIL_CANDIDATES if p > t["percentile"]]
        for p in higher:
            v = stats.percentile(xs, p)
            assert sum(1 for x in xs if x > v) < 10


def test_tail_falls_back_to_median_on_thin_samples():
    t = stats.tail([5.0, 1.0, 3.0])
    assert t["percentile"] == 50.0 and t["value"] == 3.0
    assert t["beyond"] == 1


def test_tail_counts_ties_as_not_beyond():
    xs = [1.0] * 50 + [2.0] * 15
    t = stats.tail(xs)
    assert t["beyond"] == 15 and t["value"] == 1.0


def test_geomean_and_spread():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    # quartiles of 1..9 (exclusive method): 2.5 and 7.5, median 5
    assert stats.spread([float(i) for i in range(1, 10)]) == \
        pytest.approx(1.0)
