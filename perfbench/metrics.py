"""Timing statistics and span arithmetic for the benchmark report."""

import math
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 90.0)


def tail_percentile(n):
    """The highest reported percentile with at least ten samples beyond
    it, or None when `n` samples support no tail percentile."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def nearest_rank(values, p):
    """The p-th percentile by the nearest-rank rule."""
    xs = sorted(values)
    # the small slack keeps float error (99.9 / 100 * 10000 = 9990.000…2)
    # from moving the rank up by one
    k = max(1, math.ceil(p * len(xs) / 100.0 - 1e-9))
    return xs[k - 1]


def median(values):
    return statistics.median(values)


def self_times(spans):
    """Per-name total self time, in the spans' time unit.

    `spans` holds (trace, id, parent, name, start, end) tuples. A span's
    self time is its duration minus the part of its interval that its
    direct children cover; overlapping children count once."""
    children = {}
    for s in spans:
        children.setdefault((s[0], s[2]), []).append(s)
    out = {}
    for trace, sid, _, name, start, end in spans:
        covered, cur_lo, cur_hi = 0, None, None
        kids = sorted((max(c[4], start), min(c[5], end))
                      for c in children.get((trace, sid), []))
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[name] = out.get(name, 0) + (end - start) - covered
    return out


def read_spans(path):
    spans = []
    with open(path) as fh:
        for line in fh:
            t, i, p, name, a, b = line.rstrip("\n").split("\t")
            spans.append((int(t), int(i), int(p), name, int(a), int(b)))
    return spans
