"""Summary statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that still
has at least ``MIN_BEYOND`` samples beyond it, together with the sample
count; with fewer samples than that rule needs, no tail percentile is
claimed at all.
"""

from __future__ import annotations

import statistics

MIN_BEYOND = 10
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    pos = (len(vals) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile of ``LADDER`` with at least ``min_beyond`` of
    ``n`` samples beyond it, or None when even the median lacks them."""
    best = None
    for pct in LADDER:
        if n * (100.0 - pct) / 100.0 >= min_beyond - 1e-9:  # 99.9 is inexact
            best = pct
    return best


def timing_summary(values) -> dict:
    """Median, the supported tail percentile and the sample count."""
    vals = list(values)
    pct = supported_percentile(len(vals))
    return {
        "p50": float(statistics.median(vals)),
        "tail_pct": pct,
        "tail": percentile(vals, pct) if pct is not None else None,
        "n": len(vals),
    }
