"""The tail-percentile rule: the highest whole percentile that leaves at
least ten samples beyond it, by nearest rank."""

from __future__ import annotations

import math

import pytest

from perfbench.stats import TAIL_BEYOND, nearest_rank, summarize, tail_percentile


def beyond(n: int, p: int) -> int:
    return n - math.ceil(p * n / 100)


@pytest.mark.parametrize("n", range(0, 2 * TAIL_BEYOND))
def test_no_tail_below_the_median(n):
    # with fewer than 20 samples the highest percentile leaving 10 beyond
    # is below the median: no tail is reported
    assert tail_percentile(n) is None


@pytest.mark.parametrize("n", list(range(2 * TAIL_BEYOND, 400)) + [1000, 12345])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    p = tail_percentile(n)
    assert p >= 50
    assert beyond(n, p) >= TAIL_BEYOND
    assert p == 100 or beyond(n, p + 1) < TAIL_BEYOND


@pytest.mark.parametrize("n, p", [(20, 50), (36, 72), (100, 90), (1000, 99)])
def test_known_points(n, p):
    assert tail_percentile(n) == p


def test_summary_of_a_series():
    values = [float(v) for v in range(1, 101)]  # 1..100
    s = summarize(values)
    assert s == {"p50": 50.5, "tail_pct": 90, "tail": 90.0, "n": 100}
    assert sum(v > s["tail"] for v in values) == 10
    assert nearest_rank(values, 50) == 50.0


def test_summary_without_tail():
    s = summarize([3.0, 1.0, 2.0])
    assert (s["p50"], s["tail_pct"], s["tail"], s["n"]) == (2.0, None, None, 3)
