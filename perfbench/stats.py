"""The benchmark's own arithmetic, free of Spark so it can be tested
alone (see ``test_perfbench.py``)."""

from __future__ import annotations

import os
import statistics


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile)``: with n sorted samples the value is
    the one with exactly ``beyond`` larger samples, at percentile
    ``100 * (1 - beyond / n)``.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    return sorted(values)[n - beyond - 1], 100.0 * (1 - beyond / n)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals: concurrent jobs count once."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover.

    ``spans`` carry ``id``, ``parent`` (an id or None), ``t0`` and
    ``t1``; children are clipped to their parent.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids.setdefault(p["id"], []).append(
                (max(s["t0"], p["t0"]), min(s["t1"], p["t1"]))
            )
    return {
        s["id"]: (s["t1"] - s["t0"]) - union_s(kids.get(s["id"], []))
        for s in spans
    }


def dir_bytes(*paths: str, suffix: str = "") -> int:
    """Bytes of the regular files under ``paths`` whose names end in
    ``suffix`` (links not followed)."""
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                if f.endswith(suffix) and os.path.isfile(p) and not os.path.islink(p):
                    total += os.path.getsize(p)
    return total


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
