"""Statistics the benchmark reports: percentiles, span self time, ratios.

Kept free of I/O so tests/test_benchmath.py can pin every rule.
"""

import math
import statistics


def median(xs):
    """Median of a non-empty sequence."""
    return statistics.median(xs)


def gmean_of_medians(pairs):
    """Geometric mean over kinds of each kind's median value.

    `pairs` are (kind, value) with values > 0. Every kind weighs the
    same, whatever its share of the samples or its scale: a mix of cheap
    and expensive kinds does not put the figure in the gap between
    them, as a plain median of the mix does. One kind gives its median.
    """
    by_kind = {}
    for k, v in pairs:
        by_kind.setdefault(k, []).append(v)
    logs = [math.log(statistics.median(vs)) for vs in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n), or None when fewer than beyond + 1
    samples exist. The value is a sample; the percentile is the share of
    samples at or below it, in percent.
    """
    n = len(xs)
    s = sorted(xs)
    for v in sorted(set(s), reverse=True):
        above = sum(1 for x in s if x > v)
        if above >= beyond:
            at_or_below = n - above
            return (v, 100.0 * at_or_below / n, n)
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Self time of each span: its duration minus the part of it that its
    child spans cover (children clipped to the parent, overlaps counted
    once). `spans` are dicts with id, parent, start_ns, end_ns; returns
    {id: self_ns}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(lo, c["start_ns"]), min(hi, c["end_ns"])) for c in kids.get(s["id"], []))
        out[s["id"]] = (hi - lo) - covered
    return out


def ratio(num, den):
    """num / den, or None when the base is zero (nothing was attempted)."""
    return None if not den else num / den
