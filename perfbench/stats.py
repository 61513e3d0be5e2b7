"""Pure helpers behind the benchmark's metrics: percentiles, interval
unions, span self time and run-to-run spread. run.py uses them; the unit
tests in test_stats.py pin them."""

import math
import statistics


def median(values):
    return statistics.median(values)


def tail_index(n):
    """Index (0-based, ascending order) of the highest order statistic that
    has at least ten samples above it, never below the upper median. With
    fewer than 21 samples no order statistic above the median qualifies,
    so the tail is the upper median."""
    if n < 1:
        raise ValueError("no samples")
    return max(n // 2, n - 11)


def tail(values):
    """(value, percentile) of the tail statistic; failed operations are
    passed as math.inf so that they count as missing every limit."""
    xs = sorted(values)
    j = tail_index(len(xs))
    return xs[j], 100.0 * (j + 1) / len(xs)


def union_length(intervals):
    """Total length covered by a set of possibly overlapping [start, end]
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Exclusive time of each span of one tree.

    `spans` is a list of dicts with `start`, `end` and `depth`; children lie
    inside their parent (the caller clips them). Every instant of the root
    span is given to the deepest spans active at that instant, split evenly
    when several overlap at that depth, so a span's self time is its
    duration minus the part its children cover and the self times of a tree
    sum to the root's duration. Returns one value per span, in input order.
    """
    out = [0.0] * len(spans)
    cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
    for a, b in zip(cuts, cuts[1:]):
        active = [i for i, s in enumerate(spans) if s["start"] <= a and s["end"] >= b]
        if not active:
            continue
        deepest = max(spans[i]["depth"] for i in active)
        owners = [i for i in active if spans[i]["depth"] == deepest]
        for i in owners:
            out[i] += (b - a) / len(owners)
    return out


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, as the benchmark's acceptance check computes it."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / q2
