"""Arithmetic the runner reports with: medians, the tail rule, job-interval
coverage and the seeded operation order. Pure Python, no Spark, so the
self-tests in test_stats.py run in milliseconds."""

from __future__ import annotations

import random
import statistics
from collections.abc import Iterable, Sequence

# A tail is only quoted where at least this many samples lie beyond it.
TAIL_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: Sequence[float]) -> tuple[float, float, bool]:
    """The highest percentile that has at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, rule_met). The value at sorted index i has
    n-1-i samples above it, so the rule picks i = n-1-TAIL_BEYOND and its
    percentile is the share of samples at or below it. With too few samples
    no percentile qualifies; the maximum is returned with rule_met False so
    the report can say so."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, False
    i = n - 1 - TAIL_BEYOND
    if i < 0:
        return float(s[-1]), 100.0, False
    return float(s[i]), 100.0 * (i + 1) / n, True


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(lo: float, hi: float, jobs: Iterable[tuple[float, float]]) -> float:
    """Operation wall time not covered by any of its Spark jobs: time the
    driver spent planning, probing or waiting between jobs."""
    return (hi - lo) - covered(jobs, lo, hi)


def pass_rng(seed: int, pass_index: int) -> random.Random:
    """The generator behind one pass: its operation order and the keys and
    values the facade reads and writes. Same (seed, pass) -> same draws."""
    return random.Random(seed * 1_000_003 + pass_index)
