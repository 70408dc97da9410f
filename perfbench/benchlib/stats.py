"""Summary rules shared by the metrics: medians, the tail percentile and
span self time."""
import statistics

# Percentiles tried for a tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """Value at the highest percentile of TAIL_LADDER that has at least
    TAIL_MIN_BEYOND samples beyond it, as (value, percentile, beyond, n).

    The value is the nearest-rank percentile; `beyond` counts the samples
    ranked above it. With fewer than 2 * TAIL_MIN_BEYOND samples no
    percentile qualifies and the maximum is returned with percentile 100
    and beyond 0, so the caller can print what the sample supports.
    """
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = -(-int(p * n) // 100)  # ceil(p/100 * n), the nearest rank
        if rank >= 1 and n - rank >= TAIL_MIN_BEYOND:
            return s[rank - 1], p, n - rank, n
    return s[-1], 100.0, 0, n


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover.

    `span` and each child are (start, end); overlapping children count once
    and the parts of a child outside the span do not count.
    """
    lo, hi = span
    own, cur = hi - lo, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in children):
        if e > cur:
            own -= e - max(s, cur)
            cur = e
    return own
