"""Summary statistics for op latencies."""

from __future__ import annotations

#: candidate percentiles, highest first
PERCENTILES = (99.9, 99.0, 90.0, 50.0)
#: a percentile is reported only with at least this many samples above it
MIN_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> dict | None:
    """The highest percentile that still has ``MIN_TAIL`` samples beyond it.

    Returns ``{"p": p, "value": v, "n": len(values)}``, or None when even
    the median lacks ``MIN_TAIL`` samples above it (fewer than 20 values).
    """
    n = len(values)
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_TAIL:
            return {"p": p, "value": percentile(values, p), "n": n}
    return None
