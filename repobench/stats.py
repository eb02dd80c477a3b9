"""Summary statistics of one run's samples."""
import math

MIN_BEYOND = 10  # samples a reported tail percentile must leave above it


def nearest_rank(sorted_vals, q):
    """The ``q``-th percentile (0 < q <= 100) by the nearest-rank rule."""
    return sorted_vals[max(1, math.ceil(q * len(sorted_vals) / 100)) - 1]


def tail(samples):
    """(percentile, value, n) of the highest whole percentile, p50 or above,
    that leaves at least ``MIN_BEYOND`` samples strictly above its rank.

    A failed operation enters as ``math.inf``, so it counts as missing any
    latency limit. Raises ``ValueError`` below ``2 * MIN_BEYOND`` samples,
    where not even the median has that many samples beyond it.
    """
    n = len(samples)
    if n < 2 * MIN_BEYOND:
        raise ValueError(f"{n} samples; a tail needs at least {2 * MIN_BEYOND}")
    s = sorted(samples)
    for q in range(99, 49, -1):
        if n - math.ceil(q * n / 100) >= MIN_BEYOND:
            return q, nearest_rank(s, q), n
    raise AssertionError("unreachable: p50 leaves n/2 >= MIN_BEYOND above it")


def median(samples):
    return nearest_rank(sorted(samples), 50)


def ok_frac(attempted, failed):
    """Operations completed with correct output over operations attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return (attempted - failed) / attempted
