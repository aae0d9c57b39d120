"""The benchmark's arithmetic: percentiles with a sample-count rule, span
self time, and the ratios the report documents. Pure functions, so the unit
tests pin them down without Spark."""

from __future__ import annotations

import math
from collections import defaultdict

# A percentile is reported only when at least this many samples lie beyond
# it, so p50 needs 20 samples and p90 needs 100.
MIN_BEYOND = 10


def percentile(values, q: float):
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``, or None when
    fewer than ``MIN_BEYOND`` samples rank above it."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return sorted(values)[max(rank, 1) - 1]


def median(values):
    """Plain median (no sample-count rule): used for per-run aggregates such
    as the pass wall, where each value is itself a sum over many ops."""
    s = sorted(values)
    if not s:
        return None
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``;
    overlapping intervals (children on different threads) count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def self_times(spans) -> dict:
    """{span id: self seconds} for spans given as mappings with ``id``,
    ``parent``, ``t0`` and ``t1``: a span's duration minus the part of its
    interval that the union of its children covers."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"])
            - union_length(kids.get(s["id"], ()), s["t0"], s["t1"])
            for s in spans}


def layer_self_times(spans, key=lambda s: s["layer"]) -> dict:
    """Self seconds summed per ``key(span)`` (the layer by default)."""
    st = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        out[key(s)] += st[s["id"]]
    return dict(out)


def cache_hit_ratio(decodes: int, touched: int) -> float:
    """1 - decodes / manifests touched: the share of manifest lookups the
    in-memory cache served. 0.0 when no manifest was touched."""
    if touched <= 0:
        return 0.0
    return 1.0 - decodes / touched


def bytes_per_user_byte(written: int, user: int) -> float:
    """Bytes the table wrote (data, delete and metadata files) per byte of
    user data handed to the writes (the Arrow in-memory size of the rows)."""
    if user <= 0:
        raise ValueError("no user bytes written")
    return written / user
