"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile (``statistics.quantiles``, n=4); a
    single value is its own quartiles."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    above it, never below the median: with fewer than 20 samples no
    percentile above p50 has ten samples beyond it, so the tail is p50."""
    if n <= 10:
        return 50
    return max(50, math.floor(100 * (n - 10) / n))


def nearest_rank(values: list[float], pct: int) -> tuple[float, int]:
    """The ``pct``-th percentile by nearest rank and the number of
    samples above it."""
    ordered = sorted(values)
    k = max(1, math.ceil(pct * len(ordered) / 100))
    return ordered[k - 1], len(ordered) - k


def mix_median(groups: list[list[float]]) -> float:
    """p50 of a balanced mix of operation kinds: the nearest-rank median
    of the kinds' median latencies. A plain median over a few kinds falls
    in the gap between two kinds, on whichever sample lands next to it."""
    return nearest_rank([median(g) for g in groups if g], 50)[0]


def tail(values: list[float], p50: float) -> dict:
    """``op_tail_s`` with the percentile and sample counts beside it; at
    p50 (fewer than 20 samples) it is ``p50``."""
    pct = tail_percentile(len(values))
    value, beyond = nearest_rank(values, pct)
    return {"value": p50 if pct == 50 else value, "percentile": pct,
            "samples": len(values), "beyond": beyond}
