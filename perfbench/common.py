"""What every workload provides to the runner."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass


@dataclass
class OpResult:
    kind: str
    units: float                          # work items the op completed
    check: Callable[[], str | None]       # untimed; a failure reason or None
    wall: float = 0.0                     # set by the runner
    rss_mb: dict[str, float] | None = None  # set by the runner


class Workload:
    """One seeded workload. ``generate`` writes the seeded inputs under
    ``root``; ``build`` runs the program's own set-up (index builds,
    model fits) into a fresh directory and may be repeated; ``op`` runs
    one closed-loop operation and returns its result with a deferred
    output check (the runner times ``op`` and not the check)."""

    name = ""
    primary = ""          # op kind whose median wall is op_p50_s
    round_len = 1         # ops per round of the fixed op cycle
    warmup_ops = 1        # untimed ops that warm every op kind
    trace_stride = 1      # the traced run alternates this many ops traced, then untraced

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tr = tracer
        self.n_ops = 0

        self.build_dir = root

    def path(self, *parts: str) -> str:
        """A path under the current build directory."""
        return os.path.join(self.build_dir, *parts)

    def input(self, *parts: str) -> str:
        """A path under the generated inputs."""
        return os.path.join(self.root, "inputs", *parts)

    def generate(self) -> None:
        raise NotImplementedError

    def build(self, build_dir: str) -> None:
        self.build_dir = build_dir

    def op(self) -> OpResult:
        raise NotImplementedError

    def once_checks(self) -> list[tuple[str, str | None]]:
        """Untimed whole-run checks, as (name, failure reason or None)."""
        return []

    def extra_trace_ops(self) -> int:
        """Traced run only: queue ops the mix has not drawn yet, so every
        layer is seen; returns how many to run."""
        return 0

    def layer_metrics(self) -> dict[str, float]:
        """Traced run only: this workload's per-layer metrics."""
        return {}

    def report(self, walls: dict[str, list[float]], units: dict[str, float]) -> list[tuple[str, float, str]]:
        """Workload-specific end-to-end figures, as (name, value, unit)."""
        return []


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum and marker files."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_SUCCESS"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
