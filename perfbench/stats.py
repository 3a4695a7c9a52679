"""Pure arithmetic of the benchmark: percentiles, the tail rules, error
rate, span self time and the seeded query order.

Nothing here touches Spark, so ``perfbench/tests`` covers it without a
session.
"""

from __future__ import annotations

import math
import random
import statistics
from collections.abc import Sequence

# Candidate tail percentiles, highest first: p99.9, then whole percents
# down to the median.
TAIL_LADDER = (99.9, *(float(p) for p in range(99, 49, -1)))
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default ``linear`` method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie beyond the ``p``-th percentile."""
    return n - math.ceil(n * p / 100.0 - 1e-9)


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """The highest ladder percentile with at least ten samples beyond it.

    Returns ``(percentile, value, samples_beyond)``. With fewer than twenty
    samples not even the median has ten beyond it and no estimate above the
    median is supported; the median is returned.
    """
    n = len(values)
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            break
    return p, percentile(values, p), beyond(n, p)


def slowest_per_pass(passes: Sequence[Sequence[float]]) -> float:
    """Median over passes of each pass's slowest latency.

    Every pass runs the same query set, so this follows the slowest query
    and moves with a regression that only hits it; the median over passes
    keeps one stray slow execution from setting it. Empty passes (every
    execution failed) are skipped.
    """
    maxima = [max(p) for p in passes if p]
    if not maxima:
        raise ValueError("slowest_per_pass of no samples")
    return statistics.median(maxima)


def error_rate(attempted: int, failed: int) -> float:
    """Failed executions over attempted ones (warm-up checks included)."""
    if attempted < 1:
        raise ValueError("error rate needs at least one attempt")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def covered(intervals: Sequence[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
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


def self_time(start: float, end: float, children: Sequence[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def pass_orders(names: Sequence[str], seed: int, passes: int) -> list[list[str]]:
    """``passes`` orderings of the same query set, drawn from ``seed``."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders
