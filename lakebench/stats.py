"""Latency summaries: the median, and the highest tail percentile the
sample supports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10
TAILS = (90.0, 99.0, 99.9)


def tail_percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile. Refuses (ValueError) when fewer
    than ``MIN_BEYOND`` samples lie above it, so that p90 needs 100."""
    n = len(samples)
    rank = math.ceil(p / 100 * n)
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p:g} of {n} samples has {n - rank} beyond it, "
                         f"needs {MIN_BEYOND}")
    return sorted(samples)[rank - 1]


def highest_tail(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of ``TAILS`` the sample supports."""
    best = None
    for p in TAILS:
        try:
            best = (p, tail_percentile(samples, p))
        except ValueError:
            break
    return best


def describe(kind: str, seconds: list[float]) -> str:
    ms = [1000 * s for s in seconds]
    line = f"{kind}: n={len(ms)} p50={statistics.median(ms):.1f} ms"
    tail = highest_tail(ms)
    if tail:
        return line + f" p{tail[0]:g}={tail[1]:.1f} ms"
    return line + f" (no tail percentile: p90 needs {10 * MIN_BEYOND} samples)"
