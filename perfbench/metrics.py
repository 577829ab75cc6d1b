"""The benchmark's own arithmetic, kept free of Spark so it can be tested
on synthetic inputs (``perfbench/selftest.py``)."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence


def median(xs: Sequence[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(samples: Sequence[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it,
    as ``(percent, value)``. With ``beyond`` samples or fewer no such
    percentile exists and the maximum is returned as the 100th."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return 100.0, xs[-1] if xs else 0.0
    k = n - beyond - 1
    return 100.0 * (k + 1) / n, xs[k]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Length covered by the union of half-open ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    return max(iv[0], lo), min(iv[1], hi)


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of it that its direct
    children cover. Spans are dicts with ``id``, ``parent``, ``t0``, ``t1``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"])
        - union_length(clip(k, s["t0"], s["t1"]) for k in kids.get(s["id"], ()))
        for s in spans
    }


def innermost(spans: Sequence[dict], t: float) -> dict | None:
    """The innermost span open at time ``t``: of the spans whose
    ``[t0, t1)`` holds ``t``, the one that started last (a child starts no
    earlier than its parent); on equal starts the higher id, since ids are
    handed out as spans open."""
    best = None
    for s in spans:
        if s["t0"] <= t < s["t1"] and (
            best is None or (s["t0"], s["id"]) > (best["t0"], best["id"])
        ):
            best = s
    return best


def spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
