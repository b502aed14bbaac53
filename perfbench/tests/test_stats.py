"""The tail rule: the highest percentile with ten samples beyond it."""

import pytest

from perfbench.stats import quartile_spread, tail


def test_tail_of_distinct_samples():
    pct, value, n = tail([float(v) for v in range(1, 31)])
    assert (value, n) == (20.0, 30)
    assert pct == pytest.approx(200 / 3)


def test_ties_move_the_cut_down():
    values = [1.0] * 5 + [2.0] * 10 + [3.0] * 6
    pct, value, _ = tail(values)
    # 3.0 is above 2.0 only 6 times, so the cut falls to 1.0
    assert value == 1.0
    assert pct == pytest.approx(100 * 5 / 21)


def test_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)
    assert tail([float(v) for v in range(11)])[1] == 0.0


def test_ties_everywhere_have_no_tail():
    with pytest.raises(ValueError):
        tail([1.0] * 30)


def test_quartile_spread():
    assert quartile_spread([10.0] * 4) == 0
    assert quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]) == \
        pytest.approx((11.5 - 8.5) / 10)
