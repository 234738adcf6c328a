"""Order statistics the benchmark reports: median, the geometric mean of
per-op medians, quartiles and the tail percentile rule."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean over ops of each op's median: the typical op
    latency of a mix, in which every op weighs the same however many
    samples it has and however slow it is."""
    meds = [median(v) for v in samples.values()]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it: returns (value, percentile, samples beyond), or None when
    there are too few samples for any percentile to qualify.

    With n samples sorted ascending, the sample at 0-based rank i has
    n - 1 - i samples after it, so the highest qualifying rank is
    n - 1 - beyond; its percentile is the share of samples at or below
    it."""
    n = len(values)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return sorted(values)[i], 100.0 * (i + 1) / n, n - 1 - i


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name) or len(name) > 64 or not name[0].isalnum():
        raise ValueError(f"bad metric name {name!r}")
    return name
