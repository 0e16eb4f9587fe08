import pytest

from perfbench.stats import (
    covered_within,
    median,
    percentile,
    tail,
    tail_percentile,
    union_length,
)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([5.0], 90) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


@pytest.mark.parametrize("n, pct", [
    (1000, 90), (100, 90),  # enough samples: the target itself
    (99, 89), (50, 80), (20, 50), (12, 16), (11, 9),  # fallback below 100
    (10, None), (1, None),  # no percentile has 10 samples beyond it
])
def test_tail_percentile_rule(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        rank = -(-pct * n // 100)
        assert n - rank >= 10  # ten samples lie beyond the reported one
        nxt = pct + 1
        assert nxt > 90 or n - max(1, -(-nxt * n // 100)) < 10  # and it is the highest


def test_tail_values():
    assert tail(list(range(1, 101))) == (90, 90)
    assert tail(list(range(1, 21))) == (50, 10)
    assert tail(list(range(5))) == (None, None)


def test_interval_union_and_coverage():
    ivs = [(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]
    assert union_length(ivs) == pytest.approx(3.0)
    assert union_length([]) == 0.0
    assert covered_within(ivs, 1.5, 3.5) == pytest.approx(1.0)
    assert covered_within(ivs, 2.0, 3.0) == 0.0
