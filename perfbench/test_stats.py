"""Unit tests for the benchmark's arithmetic (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_percentile_nearest_rank():
    samples = list(range(1, 101))
    assert stats.percentile(samples, 50) == 50
    assert stats.percentile(samples, 99) == 99
    assert stats.percentile(samples, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0


def test_tail_needs_ten_samples_beyond():
    # 1000 samples: p99 is the 990th, 10 samples lie beyond it
    assert stats.tail([float(i) for i in range(1, 1001)]) == (99.0, 990.0)
    # 999 samples: only 9 beyond p99 -> fall back to p95
    pct, value = stats.tail([float(i) for i in range(1, 1000)])
    assert pct == 95.0 and value == 950.0
    # 100 samples: 10 beyond p90, none of the higher candidates qualify
    assert stats.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    # too few samples for any tail
    assert stats.tail([float(i) for i in range(1, 100)]) is None
    assert stats.tail([]) is None


def test_tail_counts_ties_at_the_percentile_as_not_beyond():
    samples = [1.0] * 990 + [5.0] * 10
    assert stats.tail(samples) == (99.0, 1.0)
    samples = [1.0] * 985 + [5.0] * 15
    # p99 is 5.0 and nothing lies strictly beyond it; p95 is 1.0 with 15 beyond
    assert stats.tail(samples) == (95.0, 1.0)


def _span(start, end, parent=None, **kw):
    return {"start": start, "end": end, "parent": parent, **kw}


def test_self_time_is_parent_minus_children():
    spans = [
        _span(0.0, 10.0),            # construct
        _span(1.0, 4.0, parent=0),   # operator
        _span(2.0, 3.0, parent=1),   # nested operator
        _span(5.0, 6.5, parent=0),   # source read
    ]
    assert stats.self_time(spans) == [10.0 - 3.0 - 1.5, 2.0, 1.0, 1.5]


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0.0, 10.0),
        _span(1.0, 5.0, parent=0),
        _span(3.0, 7.0, parent=0),
        _span(9.0, 12.0, parent=0),   # clipped to the parent's end
    ]
    assert stats.self_time(spans)[0] == 10.0 - 6.0 - 1.0


def test_job_delta_attribution_with_nested_spans():
    # job-id deltas are inclusive: the construct span saw 9 jobs, of which
    # its operator child saw 6, of which that operator's nested call saw 4
    spans = [
        _span(0, 1, jobs=9),
        _span(0, 1, parent=0, jobs=6),
        _span(0, 1, parent=1, jobs=4),
        _span(0, 1, parent=0, jobs=0),
    ]
    assert stats.self_counts(spans, "jobs") == [3, 2, 4, 0]
    assert sum(stats.self_counts(spans, "jobs")) == spans[0]["jobs"]
