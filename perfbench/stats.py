"""Sample summaries: median, the highest supported tail percentile, count."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence

# Candidate tail percentiles, highest first. A percentile is reported only
# when at least TAIL_MIN samples lie beyond it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN = 10


def median(samples: Sequence[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def percentile(samples: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0.0 < p <= 100.0:
        raise ValueError(f"percentile out of range: {p}")
    ordered = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def beyond(n: int, p: float) -> int:
    """Number of samples that lie strictly above the nearest-rank ``p``-th
    percentile of ``n`` samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(samples: Sequence[float]) -> Optional[tuple]:
    """(p, value) for the highest percentile in TAIL_PERCENTILES that has at
    least TAIL_MIN samples beyond it, or None when there are too few."""
    for p in TAIL_PERCENTILES:
        if beyond(len(samples), p) >= TAIL_MIN:
            return p, percentile(samples, p)
    return None


def summarize(samples: Sequence[float]) -> dict:
    """{"median", "n", "tail"} where tail is (p, value) or None."""
    return {"median": median(samples), "n": len(samples), "tail": tail(samples)}


def describe(samples: Sequence[float], unit: str) -> str:
    """One human-readable line: median, sample count, supported tail."""
    s = summarize(samples)
    text = f"{s['median']:.6g} {unit}  (median of n={s['n']}"
    if s["tail"] is not None:
        p, v = s["tail"]
        text += f"; p{p:g}={v:.6g}"
    return text + ")"
