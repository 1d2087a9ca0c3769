"""Percentiles as the benchmark reports them."""
import math
import statistics


def tail(values, q):
    """The q-quantile of `values` (nearest rank), unless fewer than ten
    samples lie beyond it: then the highest quantile that has ten samples
    beyond it, but never below the median, which is reported as such.
    Returns (value, quantile)."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    rank = min(max(0, math.ceil(q * n) - 1), n - 11)
    if rank <= (n - 1) // 2:
        return statistics.median(s), 0.5
    return s[rank], round((rank + 1) / n, 4)


def open_loop_latency(due, sent, commit):
    """Latency of each open-loop record from when it was DUE, not from
    when the generator got round to offering it: a generator that falls
    behind delays records, and that delay is part of what they wait."""
    return [c - d for d, s, c in zip(due, sent, commit)]


def generator_lag(due, sent):
    """How late the generator offered each record."""
    return [s - d for d, s in zip(due, sent)]
