"""Percentile rule and the naming of op_tail_s."""

import pytest

from perfbench import stats


def test_nearest_rank_percentile():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 100) == 100.0
    assert stats.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, p",
    [(1, 50), (19, 50), (20, 50), (21, 52), (30, 66), (100, 90), (1000, 99)],
)
def test_tail_keeps_ten_ops_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_with_ten_beyond():
    import math

    for n in range(21, 400):
        p = stats.tail_percentile(n)
        assert n - math.ceil(p / 100 * n) >= stats.TAIL_BEYOND
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < stats.TAIL_BEYOND


def test_tail_value_and_name():
    values = [float(v) for v in range(1, 101)]
    assert stats.tail(values) == (90.0, "p90 of 100 ops")
    value, name = stats.tail([1.0, 2.0, 3.0, 10.0])
    assert value == 2.5
    assert name.startswith("median of 4 ops: fewer than 10 ops beyond")


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
