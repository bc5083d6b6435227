"""Tail rule of the ingest benchmark.

Run with ``python -m pytest ingestbench/test_stats.py -q``.
"""

from __future__ import annotations

import random

import pytest

from stats import TAIL_MIN_SAMPLES, p50, tail


def test_no_tail_below_twenty_samples():
    assert tail([1.0] * (TAIL_MIN_SAMPLES - 1)) is None
    assert tail([]) is None


@pytest.mark.parametrize("n", [20, 21, 27, 35, 64, 100, 1000])
def test_tail_at_least_p50_with_label(n):
    rng = random.Random(n)
    for _ in range(50):
        samples = [rng.lognormvariate(0, 1) for _ in range(n)]
        t = tail(samples)
        assert t is not None
        assert t["value"] >= p50(samples)
        assert t["samples"] == n
        # at least ten samples lie strictly beyond the tail's rank
        beyond = sorted(samples)[round(t["percentile"] * n / 100):]
        assert len(beyond) >= 10


def test_tail_percentile_labels():
    assert tail(list(range(20)))["percentile"] == 50.0
    assert tail(list(range(100)))["percentile"] == 90.0
    assert tail(list(range(1000)))["percentile"] == 99.0
    assert tail(list(range(1000)))["value"] == 989


def test_few_samples_with_an_outlier_report_no_tail():
    # a "p90" of 8 samples is one order statistic from the median and can
    # read below it; with fewer than 20 samples no tail is reported
    samples = [2123, 2096, 1900, 2200, 2150, 2010, 2050, 4000]
    assert tail(samples) is None


def test_p50_nearest_rank():
    assert p50([5, 1, 3]) == 3
    assert p50([4, 1, 3, 2]) == 2
    assert p50([7.5]) == 7.5
