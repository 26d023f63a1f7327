"""Pure-Python accounting shared by the workloads: percentiles, operation
outcomes and pass totals.  Nothing here touches Spark, so the self-tests in
``test_perfbench.py`` cover it directly."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

TAIL_BEYOND = 10  # samples a reported tail percentile must have above it


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie above the interpolation point
    ``percentile`` uses for ``q``."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def supported_percentile(n: int, cap: int = 90, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile, at most ``cap``, that has at least
    ``beyond`` of ``n`` samples above it; None when not even the median
    has."""
    best = None
    for q in range(50, cap + 1):
        if samples_beyond(n, q) >= beyond:
            best = q
    return best


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float]) -> float | None:
    """The reported tail: the ``supported_percentile`` of the samples, or
    their maximum when they are too few to support any percentile."""
    if not values:
        return None
    q = supported_percentile(len(values))
    return percentile(values, q) if q is not None else max(values)


@dataclass
class Outcomes:
    """Attempted and failed operations of one run.  A failed operation is a
    query that raised or disagreed with its oracle, a file not committed by
    the drain deadline, or a refresh that raised."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if reason and len(self.reasons) < 20:
                self.reasons.append(reason[:300])

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


@dataclass
class Pass:
    """One closed-loop pass over a query list.  ``total_s`` is None as soon
    as any query in the pass failed: a pass with a failure has no valid
    wall time, never a smaller one."""

    failures: dict[str, str] = field(default_factory=dict)
    wall_s: float = 0.0

    @property
    def total_s(self) -> float | None:
        return None if self.failures else self.wall_s


def verdict(metrics: dict, outcomes: Outcomes, checks: dict) -> bool:
    """A run is correct when no operation failed, every output check
    passed and every metric has a value."""
    return (
        outcomes.failed == 0
        and all(v is None for v in checks.values())
        and all(v is not None for v in metrics.values())
    )


def pass_seconds(passes: list[Pass]) -> float | None:
    """Median wall time over the passes, or None if any pass failed."""
    totals = [p.total_s for p in passes]
    if not totals or any(t is None for t in totals):
        return None
    return statistics.median(totals)
