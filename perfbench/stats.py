"""Sample summaries and failure accounting for the benchmark.

Pure Python (no Spark) so the rules are unit-tested in milliseconds.
"""

from __future__ import annotations

import math
import statistics
import traceback

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_level(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest integer percentile p (50..99) with at least ``beyond`` of
    ``n`` samples strictly above its nearest-rank position; None when even
    the median has fewer than ``beyond`` samples beyond it (n < 2*beyond).
    """
    for p in range(99, 49, -1):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def tail(samples: list[float]) -> tuple[int, float] | None:
    """(level, value) of the highest percentile :func:`tail_level` allows."""
    level = tail_level(len(samples))
    if level is None:
        return None
    return level, percentile(samples, level)


def median(samples: list[float]) -> float:
    return statistics.median(samples)


class Ledger:
    """Counts operations attempted and failed.

    An operation fails when its call raises; a check fails when an answer
    is wrong.  Both count as attempted, and every failure is kept with a
    message: the error rate is ``failed / attempted``.
    """

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def attempt(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted check; record a failure when ``ok`` is false."""
        self.attempt()
        if not ok:
            self.fail(what)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        """Record an operation that raised (already counted as attempted)."""
        tb = "".join(traceback.format_exception_only(type(exc), exc)).strip()
        self.fail(f"{what}: {tb}")
