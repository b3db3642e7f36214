"""What a workload hands back to ``run.py``."""

from __future__ import annotations

from dataclasses import dataclass, field


class GateFailed(Exception):
    """A correctness gate failed: the program gave a wrong answer."""


class RunInvalid(Exception):
    """The run's figures would not mean what they claim: too few
    successful operations for a percentile, or open-loop writes over
    their latency limit."""


@dataclass
class Result:
    #: the end-to-end metrics of BENCHMARK.json, by name
    e2e: dict[str, float]
    #: per-layer metrics of the traced run (empty when untraced)
    layers: dict[str, float]
    attempted: int
    failed: int
    #: the workload's own figures under their own names, for people:
    #: name -> (value, unit)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
