"""Pure statistics for the benchmark: percentiles, interval unions, span
trees and self times, failure accounting and metric-name checks. No I/O."""

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
PERCENTILES = (95, 90, 75, 50)


def valid_name(name):
    """A metric or workload name: starts with a letter or digit, at most 64
    of [A-Za-z0-9_.-]."""
    return bool(NAME_RE.fullmatch(name))


def percentile(xs, p):
    """Nearest-rank percentile: the value at rank ceil(p/100 * n)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """Samples strictly after the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n):
    """The highest percentile of PERCENTILES that leaves at least ten
    samples beyond it, or None when even the median does not."""
    for p in PERCENTILES:
        if beyond(n, p) >= 10:
            return p
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals, optionally clipped to
    [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. `spans` maps id -> dict with start, end and
    parent (0 for a root). Returns id -> self time."""
    kids = {}
    for sid, s in spans.items():
        kids.setdefault(s["parent"], []).append(sid)
    out = {}
    for sid, s in spans.items():
        covered = union_length([(spans[k]["start"], spans[k]["end"]) for k in kids.get(sid, [])],
                               s["start"], s["end"])
        out[sid] = (s["end"] - s["start"]) - covered
    return out


def fail_counts(ops):
    """(attempted, failed): every operation counts as attempted; one that
    raised, returned a wrong status or a wrong body counts as failed."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.get("ok", False))
    return attempted, failed


def fail_frac(ops):
    attempted, failed = fail_counts(ops)
    return failed / attempted if attempted else 1.0


def quartile_spread(values):
    """Interquartile distance as a share of the median (the steadiness test
    the bounds are set against)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
