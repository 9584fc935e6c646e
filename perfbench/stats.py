"""Small statistics helpers for the benchmark's metrics."""
import math

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    m = len(v) // 2
    return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2.0


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    k = max(1, math.ceil(p / 100.0 * len(v)))
    return v[k - 1]


def tail(values, min_beyond=10, ladder=TAIL_LADDER):
    """Latency at the highest percentile of `ladder` that still has at
    least `min_beyond` samples above it. Returns (value, percentile,
    samples beyond). With too few samples for even the lowest rung, the
    tail is the slowest sample: percentile 100, none beyond."""
    n = len(values)
    best = None
    for p in ladder:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            best = p
    if best is None:
        return max(values), 100.0, 0
    return nearest_rank(values, best), best, n - math.ceil(best / 100.0 * n)
