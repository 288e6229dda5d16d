"""Statistics helpers of the benchmark: medians, the tail rule, failure
accounting and span self time.  Pure Python, so the tests in
``perfbench/test_helpers.py`` run without Spark."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(samples) -> float:
    xs = list(samples)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile that has at least ``beyond`` samples above it,
    as ``(percentile, value)``; ``None`` when there are too few samples."""

    xs = sorted(samples)
    i = len(xs) - beyond - 1
    if i < 0:
        return None
    return 100.0 * (i + 1) / len(xs), xs[i]


class Tally:
    """Operations attempted and failed.  An operation fails when it raises
    or when its output check does not hold."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of ``[start, end]`` that its child
    spans ``[(child_start, child_end), ...]`` cover (overlaps count once)."""

    covered = 0.0
    reach = start
    for cs, ce in sorted(children):
        cs, ce = max(cs, reach), min(ce, end)
        if ce > cs:
            covered += ce - cs
            reach = ce
    return (end - start) - covered
