"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_is_nearest_rank():
    v = list(range(1, 101))
    assert stats.percentile(v, 50) == 50
    assert stats.percentile(v, 90) == 90
    assert stats.percentile(v, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,expected", [
    (9, None), (20, 50.0), (39, 50.0), (40, 75.0), (50, 80.0), (99, 80.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected
    if expected is not None:
        assert stats.beyond(n, expected) >= 10


def test_summarize_reports_sample_count_and_tail():
    s = stats.summarize([float(x) for x in range(1, 41)])
    assert s == {"n": 40, "p50": 20.0, "tail_p": 75.0, "tail": 30.0}
    assert stats.summarize([1.0, 2.0]) == {"n": 2, "p50": 1.0, "tail_p": None}


def test_lateness_counts_only_late_deliveries():
    due = [0.0, 1.0, 2.0, 3.0]
    actual = [0.0005, 0.999, 2.030, 3.002]
    late = stats.lateness(due, actual)
    assert late["n"] == 4
    assert late["max_ms"] == pytest.approx(30.0)
    assert late["over_10ms"] == 1
    assert late["p50_ms"] == pytest.approx(1.25)
    assert stats.lateness([], [])["max_ms"] == 0.0


def test_slices_map_to_first_batch_reaching_their_rows():
    # slices of 20 rows; batches commit 1, 3, then 2 slices
    assert stats.slices_to_batches([20] * 6, [20, 60, 40]) == [0, 1, 1, 1, 2, 2]
    # mixed slice sizes, and a slice never committed
    assert stats.slices_to_batches([20, 20, 250, 250], [40, 250]) == [0, 0, 1, None]


def test_backlog_growth_is_trend_not_oscillation():
    t = [float(i) for i in range(20)]
    sawtooth = [0, 8, 2, 9, 1, 8, 3, 9, 0, 8, 2, 9, 1, 8, 3, 9, 0, 8, 2, 9]
    assert not stats.backlog_grows(t, sawtooth, tolerance=15)
    rising = [5 * i for i in range(20)]
    assert stats.backlog_grows(t, rising, tolerance=15)
    assert not stats.backlog_grows(t[:2], rising[:2], tolerance=15)


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "build", "start": 0.0, "end": 3.0, "parent": 0},
        {"id": 2, "name": "sink", "start": 2.0, "end": 9.0, "parent": 0},
    ]
    assert stats.self_times(spans) == {"op": 1.0, "build": 3.0, "sink": 7.0}
    assert stats.union_ms([(5, 6), (0, 2), (1, 3)]) == 4

