"""Pure helpers of the benchmark: percentiles, ratios and metric names.

Nothing here touches Spark, so the unit tests in ``test_perfbench.py``
run without a JVM.
"""

from __future__ import annotations

import math
import re
import statistics

# a metric name: starts with a letter or digit, then at most 63 more
# letters, digits, '_' and '.'
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# a tail percentile is reported only when at least this many samples lie
# beyond it; fewer make the tail a reading of one or two outliers
TAIL_MIN_BEYOND = 10
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """Samples that lie above the q-th percentile of n samples."""
    return int(math.floor(n * (100.0 - q) / 100.0 + 1e-9))


def supported_tail(n: int) -> float | None:
    """Highest tail percentile with at least TAIL_MIN_BEYOND samples beyond
    it, or None when n is too small for any of TAIL_CANDIDATES."""
    for q in TAIL_CANDIDATES:
        if beyond(n, q) >= TAIL_MIN_BEYOND:
            return q
    return None


def balanced_median(samples: list[tuple[str, float]]) -> float:
    """Mean over groups of each group's median.  When one operation type
    has groups of very different cost (the SQL and scan_where entry points
    of a read, the statement types of a write), a plain median would jump
    between groups as their sample counts shift; this weighs every group
    present the same."""
    groups: dict[str, list[float]] = {}
    for g, v in samples:
        groups.setdefault(g, []).append(v)
    if not groups:
        raise ValueError("balanced median of no samples")
    return statistics.fmean(statistics.median(vs) for vs in groups.values())


def ratio(num: float, den: float) -> float:
    """num / den with an explicit base; a zero base is an error, not 0."""
    if den == 0:
        raise ZeroDivisionError(f"ratio {num}/0 has no base")
    return num / den


def check_metric(name: str, unit: str) -> None:
    if not METRIC_NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT.match(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")
