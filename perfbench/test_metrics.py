"""Tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from host import tree_cpu_s  # noqa: E402
from metrics import (  # noqa: E402
    aggregate_by_group,
    backlog_max,
    median,
    open_loop,
    percentile,
    space_amp,
    tail_percentile,
    write_amp,
)


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    assert percentile(list(range(1, 101)), 90) == 90


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (29, 50.0), (30, 66.0), (39, 66.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_rule_holds_exactly():
    for n in range(1, 2000):
        p = tail_percentile(n)
        if p is not None:
            rank = -(-p * n // 100)  # ceil
            assert n - rank >= 10


def test_open_loop_latency_counts_from_due():
    due = [0.0, 1.0, 2.0]
    start = [0.0, 1.5, 2.0]  # batch 1 waited 0.5s behind batch 0
    end = [1.5, 2.0, 2.25]
    latency, late = open_loop(due, start, end)
    assert latency == [1.5, 1.0, 0.25]
    assert late == [0.0, 0.5, 0.0]


def test_open_loop_early_start_is_not_negative_lateness():
    _, late = open_loop([1.0], [0.9], [1.2])
    assert late == [0.0]


def test_open_loop_rejects_ragged_input():
    with pytest.raises(ValueError):
        open_loop([0.0], [0.0, 1.0], [1.0])


def test_backlog_max_counts_overdue_batches():
    due = [0.0, 1.0, 2.0, 3.0]
    assert backlog_max(due, [0.0, 1.0, 2.0, 3.0]) == 1  # keeps up
    # a stall: batch 0 ran until 3.5, so batches 1-3 were all due when 1 started
    assert backlog_max(due, [0.0, 3.5, 3.6, 3.7]) == 3


def test_aggregate_by_group_sums_per_group():
    rows = [
        {"group": "a", "jobs": 1},
        {"group": "a", "stages": 1, "tasks": 4, "shuffle_read_bytes": 100},
        {"group": "a", "stages": 1, "tasks": 2, "shuffle_write_bytes": 100, "exchanges": 1},
        {"group": "b", "jobs": 1},
    ]
    agg = aggregate_by_group(rows)
    assert agg["a"]["jobs"] == 1 and agg["a"]["stages"] == 2 and agg["a"]["tasks"] == 6
    assert agg["a"]["shuffle_read_bytes"] == 100 and agg["a"]["exchanges"] == 1
    assert agg["b"]["jobs"] == 1 and agg["b"]["tasks"] == 0
    assert set(agg) == {"a", "b"}


def test_write_and_space_amplification():
    assert write_amp(300, 100) == 3.0
    assert space_amp(150, 100) == 1.5
    with pytest.raises(ValueError):
        write_amp(1, 0)
    with pytest.raises(ValueError):
        space_amp(1, 0)


def test_tree_cpu_counts_this_process():
    before = tree_cpu_s(os.getpid())
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert tree_cpu_s(os.getpid()) - before >= 0.25
