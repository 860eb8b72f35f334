"""Summary statistics and naming rules shared by the benchmark and its tests."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def valid_name(name: str) -> bool:
    """Metric and workload names: start with a letter or digit, at most 64
    letters, digits, ``_``, ``.`` and ``-``."""
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    """Units: at most 16 letters, digits, ``_``, ``/``, ``%``, ``.``, ``-``."""
    return bool(UNIT_RE.match(unit))


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(percentile, value)``; None when there are too few
    samples for any such percentile (n <= beyond).

    With n sorted samples, the sample at 0-based rank r has n-1-r samples
    beyond it, so the highest qualifying rank is n-1-beyond and its
    percentile is 100*(n-beyond)/n (p90 at n=100, p50 at n=20)."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    rank = n - 1 - beyond
    return 100.0 * (n - beyond) / n, float(ordered[rank])

