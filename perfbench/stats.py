"""Order statistics used by every workload."""

from __future__ import annotations

import math
import statistics

from result import RunInvalid


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile, reported only when at least
    ten samples lie beyond it; otherwise the run is too short to say
    anything about that tail and this raises ``RunInvalid``."""
    n = len(values)
    beyond = math.floor(n * (100.0 - p) / 100.0 + 1e-9)
    if beyond < 10:
        raise RunInvalid(
            f"p{p:g} of {n} samples has {beyond} beyond it; need >= 10"
        )
    ordered = sorted(values)
    rank = max(1, math.ceil(n * p / 100.0 - 1e-9))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

