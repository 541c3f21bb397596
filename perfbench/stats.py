"""Pure helpers: percentiles, the tail rule, span self time, metric names.

No Spark import here, so the unit tests run without a session.
"""

from __future__ import annotations

import re
import statistics
from collections.abc import Iterable, Sequence

#: percentiles the tail rule may pick, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``TAIL_BEYOND`` of
    ``n`` samples beyond it, or None when ``n`` supports none (n < 20)."""
    for p in TAIL_LADDER:
        # tenths of a percent keep the arithmetic exact (p99.9 of 10000)
        if n * round(1000 - 10 * p) >= TAIL_BEYOND * 1000:
            return p
    return None


def tail(values: Sequence[float]) -> tuple[float, str]:
    """(value, label) of the tail: the rule's percentile when the sample
    supports one, else the maximum, labelled so a reader sees which."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), f"max of {len(values)}"
    return percentile(values, p), f"p{p:g} of {len(values)}"


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def check_metric_names(names: Iterable[str]) -> None:
    bad = [n for n in names if not METRIC_NAME.fullmatch(n)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]+: {bad}")
