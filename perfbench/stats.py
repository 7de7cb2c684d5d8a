"""Tail percentile of benchmark samples."""


def tail(values, beyond=10):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value, n)``, or None when there are too few
    samples for any percentile to have ``beyond`` samples above it. The
    value is the k-th smallest sample with k = n - beyond, so exactly
    ``beyond`` samples lie beyond it; its percentile is 100 * k / n.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond
    return 100.0 * k / n, xs[k - 1], n
