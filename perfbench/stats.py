"""Summary statistics shared by the benchmark and its tests.

Every timing is reported as a median with its quartiles and sample count.
Failures are counted against attempts, never dropped.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) with `statistics.quantiles(values, n=4)`.

    A single sample is its own quartiles; an empty list is an error, since
    a metric nobody measured must not read as zero."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def summarize(values: list[float]) -> dict:
    """{median, q1, q3, n} of one metric's samples."""
    q1, med, q3 = quartiles(values)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


@dataclass
class Outcomes:
    """Operations attempted and failed in one run.

    An operation fails when it raises or when its output check finds a
    mismatch; both count once, with the reason kept for the report."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.reasons.extend(errors)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
