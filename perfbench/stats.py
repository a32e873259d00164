"""Percentile, interval and freshness arithmetic used by the benchmark."""

from __future__ import annotations

import math

#: A tail percentile is reported only if at least this many samples lie
#: beyond it.
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    tolerance keeps 99.9% of 10000 at rank 9990, not 9991)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def gmean(values: list[float]) -> float:
    """Geometric mean of positive samples. It summarizes operations of
    different sizes (TPC-H's power metric uses it over its queries) without
    the median's jump when the operation nearest the middle changes."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(
    values: list[float], candidates: tuple[float, ...] = (99.9, 99, 95, 90, 75, 50)
) -> tuple[float, float] | None:
    """The highest candidate percentile with at least MIN_BEYOND samples
    strictly above its nearest rank, as (p, value); None if even the
    median lacks them."""
    n = len(values)
    for p in candidates:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def clipped_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` inside [lo, hi]."""
    return union_length(
        [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
    )


def freshness(
    due: dict[str, float], covered: list[dict[str, float]]
) -> dict[str, float]:
    """Per file: the time from its due time until every query has
    committed a micro-batch covering it. ``covered`` holds one mapping per
    query, file -> commit time of the first batch that read it. A file some
    query never committed is left out (the caller counts it as failed)."""
    out = {}
    for f, t_due in due.items():
        commits = [c.get(f) for c in covered]
        if all(c is not None for c in commits):
            out[f] = max(commits) - t_due
    return out


def files_lagging(landed: dict[str, float], committed: dict[str, float]) -> float:
    """Mean number of files landed but not yet committed, sampled at each
    landing: the source's backlog as files."""
    if not landed:
        return 0.0
    lags = []
    for t in landed.values():
        lags.append(
            sum(1 for f, tl in landed.items() if tl <= t and committed.get(f, math.inf) > t)
        )
    return sum(lags) / len(lags)
