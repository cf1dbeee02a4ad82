"""Percentiles and span arithmetic for the benchmark's metrics."""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def beyond(values, q):
    """Samples strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def tail_percentile(values, candidates=(99, 95, 90, 75, 50), min_beyond=10):
    """The highest candidate percentile with at least `min_beyond` samples
    above it, as (q, value, samples beyond); None when even the lowest
    candidate has too few."""
    for q in candidates:
        b = beyond(values, q)
        if b >= min_beyond:
            return q, percentile(values, q), b
    return None


def self_times(spans):
    """Per span: its duration minus the time its direct children cover.
    Spans are dicts with start, end and parent (index into `spans`, -1 for
    a root); children of one span never overlap (one client thread)."""
    child = [0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end"] - s["start"]
    return [(s["end"] - s["start"] - c) / 1e9 for s, c in zip(spans, child)]
