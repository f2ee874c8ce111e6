"""Measurement math shared by run.py and compare.py.

Times are in epoch milliseconds, as the harness records them. Pure
functions only, so test_benchlib.py covers them without Spark.
"""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it,
    by nearest rank.

    Returns (percentile, value, sample_count); the percentile is None when
    there are too few samples for any, and the value is then the max.
    """
    s = sorted(values)
    n = len(s)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, s[rank - 1], n
    return None, (s[-1] if s else 0.0), n


def union(intervals):
    """Merged, sorted, non-overlapping copy of [(start, end)]."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def covered(intervals, lo=None, hi=None):
    """Total length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    for a, b in union(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        total += max(0.0, b - a)
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - covered(children, start, end)


def starts_in(t, span):
    """True when time t falls in [start, end) of span; a child span
    belongs to the parent span in which it starts."""
    return span[0] <= t < span[1]


def failed_frac(failed, attempted):
    if attempted <= 0:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def win_rate(a, b, better):
    """Share of pairs (a[i], b[i]) in which b beats a; ties count for
    neither side but stay in the denominator."""
    pairs = list(zip(a, b))
    if not pairs:
        return 0.0
    if better == "lower":
        wins = sum(1 for x, y in pairs if y < x)
    else:
        wins = sum(1 for x, y in pairs if y > x)
    return wins / len(pairs)


def verdict(a, b, wins, better, bound):
    """Choosing-metrics section 8 rule for change b against parent a.

    `wins` is b's pair win rate (win_rate over the paired runs); a and b
    are all runs of each side, for the quartiles.
    gain: b wins at least nine tenths of the pairs and the medians differ
    by more than a's own inter-quartile distance. regression: b's median
    is worse than a's by more than `bound` (a share of a's median).
    unresolved: a's own spread is wider than the bound and b neither
    gains nor is better in every run. Otherwise: no change.
    """
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (mb - ma) / abs(ma) if ma else 0.0
    if wins >= 0.9 and abs(mb - ma) > (qa3 - qa1):
        return "gain"
    if worse_by > bound:
        return "regression"
    if ma and (qa3 - qa1) / abs(ma) > bound:
        all_better = all(sign * (y - x) < 0 for x in a for y in b)
        return "no change" if all_better else "unresolved"
    return "no change"
