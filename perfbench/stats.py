"""Summary statistics shared by every workload."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # a tail percentile needs this many samples beyond it


def median(xs) -> float:
    return float(statistics.median(xs))


def has_tail(xs) -> bool:
    """True when some percentile of xs has TAIL_BEYOND samples beyond it."""
    s = sorted(xs)
    return len(s) > TAIL_BEYOND and sum(1 for x in s if x > s[0]) >= TAIL_BEYOND


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least TAIL_BEYOND samples strictly
    greater than it: (value, percentile, sample count).

    Raises ValueError when no percentile has enough samples beyond it:
    with TAIL_BEYOND or fewer samples, or when the smallest values tie."""
    s = sorted(xs)
    n = len(s)
    k = n - TAIL_BEYOND  # 1-based rank with TAIL_BEYOND samples after it
    # ties: samples equal to the candidate are not beyond it
    while k >= 1 and sum(1 for x in s[k:] if x > s[k - 1]) < TAIL_BEYOND:
        k -= 1
    if k < 1:
        raise ValueError(f"{n} samples: no percentile has {TAIL_BEYOND} beyond it")
    return float(s[k - 1]), 100.0 * k / n, n
