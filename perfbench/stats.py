"""Order statistics used by the benchmark's metrics."""
import math
import statistics

# Candidate tail percentiles, highest first: p99.9, then every whole
# percentile down to the median.
PERCENTILES = (99.9,) + tuple(float(p) for p in range(99, 49, -1))


def median(values):
    return statistics.median(values)


def tail(values, min_beyond=10):
    """The highest of PERCENTILES with at least `min_beyond` samples beyond it.

    Returns (value, percentile, samples). Uses nearest-rank percentiles: the
    p-th percentile of n sorted samples is the ceil(p/100*n)-th smallest, and
    the samples beyond it are the n - rank larger ones. When no percentile has
    enough samples beyond it, the median is reported as the tail (p50).
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in PERCENTILES:
        rank = max(1, math.ceil(round(p * n / 100.0, 9)))
        if n - rank >= min_beyond:
            return xs[rank - 1], p, n
    return xs[max(1, math.ceil(n / 2)) - 1], 50.0, n

