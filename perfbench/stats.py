"""Latency summaries: the median and the tail percentile the sample
supports."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest whole percentile with at least 10 samples beyond it,
    ``floor(100 * (1 - 10 / n))``, never below the median: under 20
    samples no percentile above p50 has ten samples beyond it, so the
    tail reads as p50."""
    if n < 1:
        raise ValueError("no samples")
    return float(max(50, math.floor(100 * (1 - 10 / n))))


def summarize(values: list[float]) -> dict[str, float]:
    p = tail_percentile(len(values))
    return {"p50": percentile(values, 50), "tail": percentile(values, p),
            "tail_pct": p, "n": len(values)}
