"""Pure helpers of the benchmark: percentiles, metric-spec rules and the
result line. No Spark here, so the tests of these rules run in a second."""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128
MAX_BOUND = 0.25
TAIL_BEYOND = 10  # samples a tail percentile must have above it


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ``TAIL_BEYOND`` of ``n``
    samples above it, or None when that percentile would not exceed p50."""
    if n <= 0:
        return None
    p = math.floor(100 * (n - TAIL_BEYOND) / n)
    return p if p > 50 else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def kind_p50_gmean(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over op kinds of each kind's median latency.

    A workload mixes kinds whose latencies differ by up to 10x, and the
    median of such a mixture sits in a gap between two kinds: one slow op
    moving across the gap moves it by the whole gap. The median per kind
    is robust to one slow op and the geometric mean weighs a relative
    change of every kind alike."""
    by_kind: dict[str, list[float]] = {}
    for kind, value in samples:
        by_kind.setdefault(kind, []).append(value)
    if not by_kind:
        raise ValueError("latency of no samples")
    return statistics.geometric_mean([statistics.median(v) for v in by_kind.values()])


def error_rate(attempted: int, failed: int) -> float:
    """Failed plus wrong-output operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted


def validate_spec(spec: dict) -> None:
    """Raise ValueError where ``spec`` (BENCHMARK.json) breaks the metric
    naming and size rules."""
    e2e, layer = spec.get("end_to_end", []), spec.get("per_layer", [])
    if not 1 <= len(e2e) <= MAX_END_TO_END:
        raise ValueError(f"end_to_end has {len(e2e)} metrics; allowed 1..{MAX_END_TO_END}")
    if not 1 <= len(layer) <= MAX_PER_LAYER:
        raise ValueError(f"per_layer has {len(layer)} metrics; allowed 1..{MAX_PER_LAYER}")
    names = [w["name"] for w in spec.get("workloads", [])]
    for m in e2e + layer:
        names.append(m["name"])
        if not UNIT_RE.fullmatch(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} on {m['name']!r}")
        if m["better"] not in ("lower", "higher"):
            raise ValueError(f"bad 'better' on {m['name']!r}")
    for m in e2e:
        if not 0 < m["bound"] <= MAX_BOUND:
            raise ValueError(f"bound of {m['name']!r} outside (0, {MAX_BOUND}]")
    for n in names:
        if not NAME_RE.fullmatch(n):
            raise ValueError(f"bad name {n!r}")
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        raise ValueError(f"names used twice: {sorted(dup)}")


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    """The one-line JSON the benchmark prints last."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    )
