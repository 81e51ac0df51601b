"""Summary statistics and seeded choices used by the benchmark.

Pure functions with no Spark dependency, so the tests can check them
directly.
"""

from __future__ import annotations

import math
import random
import statistics
from collections.abc import Mapping, Sequence

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least ``beyond``
    samples above it: ``(value, percentile, sample count)``.

    With ``n`` samples sorted ascending, the value at 0-based index
    ``n - beyond - 1`` has ``beyond`` samples after it, which makes it
    the ``100 * (n - beyond) / n`` percentile. Fewer than ``beyond + 1``
    samples have no such percentile."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    ordered = sorted(values)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def tail_ratio(latencies: Mapping[str, Sequence[float]]) -> tuple[float, float, int]:
    """Divide each execution's latency by its own query's median, pool
    the ratios over all queries and take :func:`tail` of the pool."""
    ratios = []
    for samples in latencies.values():
        mid = median(samples)
        ratios.extend(v / mid for v in samples)
    return tail(ratios)


def query_geomean(latencies: Mapping[str, Sequence[float]]) -> float:
    """Geometric mean over queries of each query's median latency."""
    return geomean([median(samples) for samples in latencies.values()])


def pass_order(names: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The order of one pass: a permutation of ``names`` that depends
    only on the workload seed and the pass index (warm-up passes come
    first: 0, 1, …)."""
    order = list(names)
    random.Random(f"order:{seed}:{pass_index}").shuffle(order)
    return order

