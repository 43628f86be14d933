"""Tests of the benchmark's own arithmetic (run: python3 -m pytest perfbench/tests)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_nearest_rank_matches_definition():
    values = list(range(1, 101))
    assert stats.nearest_rank(values, 0.5) == 50
    assert stats.nearest_rank(values, 0.9) == 90
    assert stats.nearest_rank(values, 1.0) == 100
    assert stats.nearest_rank([3.0], 0.5) == 3.0
    assert stats.nearest_rank([5, 1, 3], 0.5) == 3


@pytest.mark.parametrize("n,p,expected", [(100, 0.9, 10), (40, 0.75, 10), (39, 0.75, 9), (11, 0.5, 5)])
def test_beyond_counts_samples_past_the_percentile(n, p, expected):
    assert stats.beyond(n, p) == expected


@pytest.mark.parametrize("p", [0.5, 0.7, 0.75, 0.8, 0.9, 0.95])
def test_min_samples_is_the_smallest_count_with_ten_beyond(p):
    n = stats.min_samples(p)
    assert stats.beyond(n, p) >= stats.MIN_BEYOND
    assert stats.beyond(n - 1, p) < stats.MIN_BEYOND


def test_tail_refuses_a_percentile_the_sample_cannot_support():
    values = [float(i) for i in range(1, 40)]  # 39 samples: p75 has 9 beyond
    with pytest.raises(ValueError):
        stats.tail(values, 0.75)
    assert stats.tail(values + [40.0], 0.75) == 30.0  # 40 samples: 10 beyond


def test_error_rate_base_is_attempted_queries():
    assert stats.error_rate(0, 40) == 0.0
    assert stats.error_rate(3, 60) == 0.05
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(5, 4)


def test_self_time_subtracts_children_once():
    spans = [
        (1, None, 0.0, 10.0),
        (2, 1, 1.0, 4.0),
        (3, 1, 5.0, 6.0),
        (4, 2, 2.0, 3.0),
    ]
    self_t = stats.self_times(spans)
    assert self_t == {1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0}
    assert sum(self_t.values()) == pytest.approx(10.0)


def test_self_time_handles_overlapping_and_overhanging_children():
    spans = [(1, None, 0.0, 10.0), (2, 1, 2.0, 6.0), (3, 1, 4.0, 8.0), (4, 1, 9.0, 12.0)]
    assert stats.self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_manifest_sample_counts_support_each_tail_percentile():
    import json
    import math

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "manifest.json")) as f:
        workloads = json.load(f)["workloads"]
    for name, wl in workloads.items():
        n = len(wl["queries"])
        passes = math.ceil(stats.min_samples(wl["tail_percentile"]) / n)
        assert wl["latency_samples_min"] == n * passes, name
        assert stats.beyond(n * passes, wl["tail_percentile"]) >= stats.MIN_BEYOND, name
