"""The benchmark's own arithmetic: percentile selection and span accounting.

Pure functions over plain numbers and dicts, so they are unit-tested
without a Spark session (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with at least this many samples
#: strictly beyond it
MIN_BEYOND = 10
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0)


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(samples: list[float], candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples strictly above it, as ``(pct, value)``; ``None`` when even
    the lowest candidate has too few samples beyond it."""
    if not samples:
        return None
    for pct in sorted(candidates, reverse=True):
        value = percentile(samples, pct)
        if sum(1 for s in samples if s > value) >= MIN_BEYOND:
            return pct, value
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def children(spans: list[dict]) -> dict[int, list[int]]:
    """Span index -> indices of its direct children."""
    out: dict[int, list[int]] = {i: [] for i in range(len(spans))}
    for i, s in enumerate(spans):
        if s.get("parent") is not None:
            out[s["parent"]].append(i)
    return out


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [lo, hi] that the union of intervals covers."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_time(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    kids = children(spans)
    out = []
    for i, s in enumerate(spans):
        cover = _covered(
            s["start"], s["end"],
            [(spans[k]["start"], spans[k]["end"]) for k in kids[i]],
        )
        out.append(s["end"] - s["start"] - cover)
    return out


def self_counts(spans: list[dict], key: str) -> list[int]:
    """Attribute a monotone counter (job ids, stage ids) to the innermost
    span: each span records the counter's delta over its interval
    (``spans[i][key]``, inclusive of nested spans); its own share is that
    delta minus its direct children's deltas."""
    kids = children(spans)
    return [
        s[key] - sum(spans[k][key] for k in kids[i])
        for i, s in enumerate(spans)
    ]
