"""Latency summaries: the median plus the highest percentile that has at
least ``MIN_BEYOND`` samples beyond it, with the sample count."""

from __future__ import annotations

import math
import statistics

#: Percentiles a tail may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the median has fewer."""
    ok = [p for p in LADDER if beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100.0 * len(ordered))) - 1]


def summarize(values: list[float], tail_p: float) -> dict:
    """``{"n", "p50", "tail_p", "tail"}`` at the given tail percentile,
    which must leave ``MIN_BEYOND`` samples beyond it; a tail of 50 is
    the median, reported when a run cannot gather ``2 * MIN_BEYOND``."""
    n = len(values)
    if tail_p != 50.0 and beyond(n, tail_p) < MIN_BEYOND:
        raise ValueError(f"{n} samples leave fewer than {MIN_BEYOND} "
                         f"beyond p{tail_p:g}")
    return {"n": n, "p50": statistics.median(values), "tail_p": tail_p,
            "tail": statistics.median(values) if tail_p == 50.0
            else percentile(values, tail_p)}
