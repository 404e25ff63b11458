"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

# Tail levels tried from the highest down; the reported tail is the
# highest one that leaves at least MIN_BEYOND samples above it.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_level(n: int) -> float:
    """The highest level in TAIL_LEVELS with at least MIN_BEYOND of
    ``n`` samples beyond it; 100 (the maximum) when even the median
    has fewer."""
    for q in TAIL_LEVELS:
        if n * (100.0 - q) >= MIN_BEYOND * 100.0 - 1e-6:
            return q
    return 100.0


def summarize(values: list[float], q: float) -> dict:
    """{n, p50, tail_level, tail, beyond} of a latency sample, with the
    tail at level ``q``."""
    tail = percentile(values, q)
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail_level": q,
        "tail": tail,
        "beyond": sum(v > tail for v in values),
    }
