"""Order statistics and interval arithmetic the benchmark reports with.

A timing is reported as its median and as the highest percentile that still
has at least ``MIN_BEYOND`` samples beyond it; with fewer samples than that
the tail is not reported at all rather than read off one or two outliers.
"""

from __future__ import annotations

import math
import statistics

#: samples that must lie strictly above a reported tail percentile
MIN_BEYOND = 10

#: tail percentiles considered, highest first
TAIL_PERCENTILES = (99, 95, 90, 85, 75, 50)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct`` sample."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def supported_tail(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest of ``TAIL_PERCENTILES`` with ``min_beyond`` samples beyond
    it in a sample of ``n``, or None when even the median lacks them."""
    for pct in TAIL_PERCENTILES:
        if beyond(n, pct) >= min_beyond:
            return pct
    return None


def summarize(values) -> dict:
    """Median, sample count and the supported tail percentile of a timing."""
    xs = list(values)
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None}
    pct = supported_tail(len(xs))
    if pct is not None:
        out["tail_pct"] = pct
        out["tail"] = percentile(xs, pct)
    return out


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the median
    (``statistics.quantiles(values, n=4)``, the rule used to judge whether a
    metric is steady across runs)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def overlap(segments, windows) -> float:
    """Weighted time the ``segments`` [(start, end)] cover inside the
    ``windows`` [(start, end, weight)]: for each window, the length of the
    segments' union clipped to it, times its weight."""
    segments = list(segments)
    return sum(
        w * union_length((max(s, lo), min(e, hi)) for s, e in segments if e > lo and s < hi)
        for lo, hi, w in windows
    )


def weight_at(t: float, windows) -> float:
    """Weight of the window [start, end] holding instant ``t``; 0 outside
    every window."""
    return next((w for lo, hi, w in windows if lo <= t <= hi), 0.0)


def subtract(span: tuple[float, float], others) -> list[tuple[float, float]]:
    """The parts of ``span`` that none of the ``others`` intervals cover."""
    lo, hi = span
    out, cur = [], lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in others if e > lo and s < hi):
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < hi:
        out.append((cur, hi))
    return out
