"""Summary statistics used by the benchmark's report."""

from __future__ import annotations

import statistics

#: Tail percentiles considered, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
#: A tail percentile is reported only with at least this many samples
#: beyond it.
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values) -> dict | None:
    """The highest percentile in ``TAIL_PERCENTILES`` with at least
    ``TAIL_MIN_BEYOND`` samples beyond it, as ``{"p", "n", "value"}``;
    ``None`` when the sample cannot support any of them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        # samples beyond the p-th percentile: n * (1 - p/100), exactly
        if n * (100.0 - p) >= TAIL_MIN_BEYOND * 100.0 - 1e-9:
            return {"p": p, "n": n, "value": percentile(values, p)}
    return None


def spread(values) -> dict:
    """Median and quartiles of per-op counts (counts are not exact:
    AQE and convergence loops move them run to run)."""
    values = list(values)
    if len(values) < 2:
        v = values[0] if values else 0.0
        return {"median": v, "q1": v, "q3": v, "n": len(values)}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": median(values), "q1": q1, "q3": q3, "n": len(values)}
