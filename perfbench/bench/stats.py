"""Percentiles and the sample-count rule the benchmark reports them by."""
import numpy as np

# the percentiles a timing may be reported at, lowest first
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """The p-th percentile, interpolated linearly between the closest
    ranks. Empty input gives None."""
    return float(np.percentile(values, p)) if len(values) else None


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n, beyond=10):
    """The highest percentile of LADDER that has at least `beyond`
    samples above it among n, or None when even the median has not."""
    best = None
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            best = p
    return best


def summary(values):
    """Median, the tail percentile the sample supports, and the count."""
    n = len(values)
    tail = tail_percentile(n)
    return {
        "n": n,
        "p50": median(values),
        "tail_p": tail,
        "tail": percentile(values, tail) if tail is not None else None,
    }
