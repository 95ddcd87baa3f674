"""Summary statistics for timings: a median plus the highest percentile that
has at least ten samples beyond it, with the sample count. Never min-of-N.
"""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(samples)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least MIN_BEYOND of `n`
    samples above its nearest rank, or None when there is none."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def summarize(samples) -> dict:
    """{"n", "p50", and "p<tail>" when the sample supports a tail}."""
    xs = list(samples)
    if not xs:
        return {"n": 0}
    out = {"n": len(xs), "p50": statistics.median(xs)}
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p:g}"] = percentile(xs, p)
    return out


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def spread(values) -> float:
    """Interquartile distance as a share of the median (the benchmark's
    steadiness test; needs at least two values)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
