"""Summary statistics for benchmark samples.

Every timing is reported as a median plus, where the sample supports it,
the highest percentile that still has at least ``MIN_TAIL`` samples
beyond it. Samples are never dropped to fit a wall-clock budget: a run
measures whole passes until its window closes, and every timed
operation in the window is kept.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

MIN_TAIL = 10
_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def median(values: Sequence[float]) -> float:
    """Median of a non-empty sample (mean of the two middle values when
    the count is even)."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    mid = len(s) // 2
    return float(s[mid]) if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0..100), linear between closest ranks."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile out of range: {q}")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported_tail(values: Sequence[float], min_tail: int = MIN_TAIL) -> dict | None:
    """The highest whole percentile ``p`` with at least ``min_tail``
    samples strictly above its rank, as ``{"p", "value", "n"}``; None
    when the sample is too small to support even the median."""
    n = len(values)
    best = None
    for p in range(50, 100):
        if n * (100 - p) / 100.0 >= min_tail:
            best = p
    if best is None:
        return None
    return {"p": best, "value": percentile(values, best), "n": n}


def query_medians(ops: Sequence[dict]) -> dict[str, float]:
    """Median ``latency_s`` of each query over ``ops`` (rows with
    ``query`` and ``latency_s``). Their sum is the median pass: each
    query at its median, so a burst of host noise that slows a few
    operations moves it less than it moves whole-pass medians."""
    by_query: dict[str, list[float]] = {}
    for o in ops:
        by_query.setdefault(o["query"], []).append(o["latency_s"])
    return {q: median(v) for q, v in by_query.items()}


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise."""
    if not _NAME.fullmatch(name) or len(name) > 64:
        raise ValueError(f"bad metric name: {name!r}")
    return name
