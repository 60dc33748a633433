"""Pure helpers for the benchmark's numbers: percentiles with a sample
floor, interval unions, span self time and failure fractions."""

from __future__ import annotations

import math
from typing import Iterable, Sequence

# a reported tail percentile must have at least this many samples above it
MIN_BEYOND = 10


def nearest_rank(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1]


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``pct`` percentile."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail(values: Sequence[float], pct: float) -> float | None:
    """The ``pct`` percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it."""
    if samples_beyond(len(values), pct) < MIN_BEYOND:
        return None
    return nearest_rank(values, pct)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((a, b) for a, b in intervals if b > a):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def self_time(start: float, end: float,
              covered: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that ``covered`` (its child
    spans, and any engine jobs run from it) overlaps.  Overlapping
    children are counted once."""
    return (end - start) - union_length(clip(covered, start, end))


def fail_frac(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones.  An operation that raised,
    returned a non-200 status or a wrong body counts once as failed."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted

