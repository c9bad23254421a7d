"""Metric names, summary statistics and the result line.

Pure Python: no Spark, so the rules here are tested on their own.
"""

from __future__ import annotations

import json
import math
import re
import statistics
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def check_names(metrics: list[dict]) -> None:
    """Raise ValueError unless every name and unit is well formed and
    every name is used once."""
    seen = set()
    for m in metrics:
        if not NAME_RE.fullmatch(m["name"]) or m["name"] in seen:
            raise ValueError(f"bad or repeated metric name {m['name']!r}")
        if not UNIT_RE.fullmatch(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {m['name']}")
        seen.add(m["name"])


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p % of
    the samples at or below it)."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return float(ordered[rank - 1])


def tail(values, beyond: int = 10) -> tuple[float, float]:
    """(value, p) at the highest percentile p of TAIL_LADDER that leaves
    at least `beyond` samples above its rank. With fewer than
    2 * `beyond` samples no rung qualifies and the maximum (0 for no
    samples) is reported as p = 100, so a short run never reads as a
    well-supported tail."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100 * n)) >= beyond:
            return percentile(values, p), p
    return float(max(values, default=0.0)), 100.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(map(math.log, values)) / len(values)) if values else 0.0


@dataclass
class Tally:
    """Operations attempted and failed; a failure is an operation that
    raised or whose output check did not hold."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def result_line(tally: Tally, values: dict[str, float], declared: list[dict]) -> str:
    """The benchmark's last stdout line. Every declared metric must have
    a value; a missing one is a bug in the workload, not a zero."""
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise KeyError(f"no value for metrics {missing}")
    return json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared
        },
    })
