"""Percentile and spread math shared by the runner and the comparison."""
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """Tail latency: (value, percentile, n).

    With at least 100 samples this is the highest percentile that has
    `beyond` samples above it: the (beyond+1)-th largest, at percentile
    100*(n-beyond)/n. With fewer samples no percentile at or above p90 has
    that many beyond it; the p90 interpolated as `statistics.quantiles(xs,
    n=10)` gives it is returned instead, which is steadier than the
    maximum. A single sample is its own tail.
    """
    s = sorted(xs)
    n = len(s)
    if n >= 10 * beyond:
        return s[n - beyond - 1], 100.0 * (n - beyond) / n, n
    if n == 1:
        return s[0], 100.0, 1
    return statistics.quantiles(s, n=10)[-1], 90.0, n


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")
