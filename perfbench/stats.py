"""Summary statistics for the benchmark's timings.

A timing is reported as its median plus the highest percentile that still
has at least ``MIN_BEYOND`` samples beyond it, together with the sample
count. With fewer than ``2 * MIN_BEYOND`` samples no percentile (not even the
median) has ten samples beyond it; the median is still reported, and the
summary says that no higher percentile is supported.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
PROBE_MARGIN_S = 1.0
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def supported_percentile(n: int) -> float | None:
    """Highest percentile in ``PERCENTILES`` with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it, or None."""
    best = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition that
    ``statistics.quantiles(method="inclusive")`` uses)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """``{"n", "p50", "pct", "value_at_pct"}``; ``pct`` is None when the sample
    is too small for any percentile to have ``MIN_BEYOND`` samples beyond."""
    n = len(values)
    if n == 0:
        return {"n": 0, "p50": None, "pct": None, "value_at_pct": None}
    pct = supported_percentile(n)
    return {
        "n": n,
        "p50": statistics.median(values),
        "pct": pct,
        "value_at_pct": percentile(values, pct) if pct is not None else None,
    }


def median_or_zero(values: list[float]) -> float:
    """Median of the values, 0.0 when there are none (used for per-layer
    counts of layers a workload does not call)."""
    return float(statistics.median(values)) if values else 0.0


def per_probe(ops_cpu: list[float], windows: list[tuple[float, float]],
              probes: list[tuple[float, float]]) -> list[float]:
    """Each operation's CPU time divided by the median CPU time of the speed
    probes that ended within ``PROBE_MARGIN_S`` of its window ``(start,
    end)``; with none there, the probe nearest the window's middle."""
    out = []
    for cpu, (t0, t1) in zip(ops_cpu, windows):
        near = [d for t, d in probes if t0 - PROBE_MARGIN_S <= t <= t1 + PROBE_MARGIN_S]
        if not near:
            mid = (t0 + t1) / 2
            near = [min(probes, key=lambda p: abs(p[0] - mid))[1]]
        out.append(cpu / statistics.median(near))
    return out
