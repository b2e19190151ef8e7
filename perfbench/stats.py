"""Summary statistics and op accounting shared by every workload."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def rate(units: float, walls: dict[str, list[float]]) -> float:
    """Work per second over the op kinds in ``walls``, with each op's
    wall replaced by its kind's median, so one op slowed by the machine
    does not move it: ``units / sum(len(ws) * median(ws))``."""
    w = sum(len(ws) * median(ws) for ws in walls.values() if ws)
    return units / w if w else math.nan


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ten samples beyond
    it, as ``(value, percentile, n)``. With ``n`` samples that is the
    order statistic with exactly ten larger ones, i.e. percentile
    ``100 * (n - 10) / n``. Fewer than eleven samples have no such
    percentile: the value is NaN and the percentile 0."""
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return float("nan"), 0.0, n
    s = sorted(xs)
    return float(s[n - TAIL_MIN_BEYOND - 1]), 100.0 * (n - TAIL_MIN_BEYOND) / n, n


@dataclass
class Tally:
    """Ops attempted and failed, per op kind. An op fails when it raises
    or when its output check rejects the result."""

    attempted: dict[str, int] = field(default_factory=dict)
    failed: dict[str, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def record(self, kind: str, ok: bool, why: str = "") -> None:
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        if not ok:
            self.failed[kind] = self.failed.get(kind, 0) + 1
            if len(self.errors) < 20:
                self.errors.append(f"{kind}: {why}")

    @property
    def n_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def n_failed(self) -> int:
        return sum(self.failed.values())

    @property
    def error_rate(self) -> float:
        n = self.n_attempted
        return self.n_failed / n if n else math.nan
