"""Order statistics for the benchmark's samples."""
import statistics


def percentile(values, q):
    """The `q`-th percentile (0..100) of `values`, interpolating linearly
    between closest ranks (numpy's default method)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def tail_percentile(n):
    """The highest percentile, at most the 90th, that leaves at least ten
    of `n` samples beyond it. Below 20 samples none at or above the
    median does; the 75th is used then. The cap: streamed records come in
    micro-batches that share an end time, so a higher percentile of them
    rests on one or two batches."""
    if n < 20:
        return 75.0
    return min(90.0, 100.0 * (1 - 10.0 / n))


def relative_iqr(values):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as `statistics.quantiles(values, n=4)` gives
    them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
