"""Summary statistics the benchmark reports (pure Python, no Spark)."""

from __future__ import annotations

import math
import random
import statistics


def pass_order(keys: list[str], seed: int, pass_index: int) -> list[str]:
    """The key order of one pass: a permutation fixed by (seed, pass)."""
    return random.Random(f"{seed}:{pass_index}").sample(keys, len(keys))


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (percentile, value): the sample at sorted index n - beyond - 1,
    which has ``beyond`` samples ranked above it, and its percentile
    100 * (n - beyond) / n. With ``beyond`` or fewer samples no percentile
    qualifies and the result is None.
    """
    n = len(values)
    if n <= beyond:
        return None
    ranked = sorted(values)
    return 100.0 * (n - beyond) / n, ranked[n - beyond - 1]


def slowdowns(latencies: dict[str, list[float]]) -> list[float]:
    """Each execution's latency divided by the median latency of its key."""
    out = []
    for samples in latencies.values():
        med = statistics.median(samples)
        out.extend(s / med for s in samples)
    return out
