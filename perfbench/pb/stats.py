"""Percentiles, quartile spread, typical cycle time and span self time."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence


def quantile(values: Sequence[float], q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation between closest
    ranks (numpy's default method); NaN for no values."""
    if not values:
        return math.nan
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) == 1:
        return (values[0],) * 3
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: Sequence[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def typical_cycle(samples: Iterable[tuple[str, float]]) -> tuple[float, int]:
    """(seconds, kinds) of a typical cycle from (operation kind, latency)
    samples: the sum over kinds of each kind's median latency, so
    neither a slow first cycle nor one stalled operation sets it."""
    by_kind: dict[str, list[float]] = {}
    for kind, latency in samples:
        by_kind.setdefault(kind, []).append(latency)
    return sum(statistics.median(v) for v in by_kind.values()), len(by_kind)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of it
    its children cover. A span is ``{"id", "parent", "start", "end"}``;
    children are clipped to their parent's interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], ())
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out
