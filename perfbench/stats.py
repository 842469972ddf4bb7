"""Key order and the tail percentile used by the benchmark."""

from __future__ import annotations

import random
from collections.abc import Iterator


def pass_orders(keys: list[str], seed: int) -> Iterator[list[str]]:
    """Key order of each successive pass, determined by ``seed`` alone: one
    seeded permutation, rotated by one place per pass, so that over as many
    passes as there are keys every key runs once in every position and the
    order's effect on a run's medians evens out."""
    base = random.Random(seed).sample(keys, len(keys))
    p = 0
    while True:
        i = p % len(base)
        yield base[i:] + base[:i]
        p += 1


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that has
    at least ``beyond`` samples above it. With too few samples for that, the
    maximum is returned as the 100th percentile."""
    v = sorted(values)
    n = len(v)
    if n <= beyond:
        return v[-1], 100.0, n
    return v[n - 1 - beyond], 100.0 * (n - beyond) / n, n
