from __future__ import annotations

import numpy as np
import pytest

from triangle_counting_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tcs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def make_edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def hub_graph(seed: int = 11, n: int = 60, m: int = 240) -> list[tuple[int, int]]:
    """Seeded random canonical edges plus one hub joined to most vertices."""
    rng = np.random.default_rng(seed)
    s, d = rng.integers(0, n, m), rng.integers(0, n, m)
    pairs = {(int(min(a, b)), int(max(a, b))) for a, b in zip(s, d) if a != b}
    pairs |= {(0, v) for v in range(1, 45)}
    return sorted(pairs)


def raw_pairs(pairs):
    """``pairs`` as raw input: some edges reversed, some duplicated, which
    every tier canonicalizes itself."""
    return pairs + [(b, a) for a, b in pairs[::3]] + pairs[:5]


# Known-truth tiny graphs (FIXTURES.md §3)
TINY = {
    "triangle": ([(0, 1), (1, 2), (0, 2)], 1, 1),
    "path4": ([(0, 1), (1, 2), (2, 3)], 0, 1),
    "star5": ([(0, 1), (0, 2), (0, 3), (0, 4)], 0, 1),
    "cycle5": ([(0, 1), (1, 2), (2, 3), (3, 4), (0, 4)], 0, 1),
    "K4": ([(a, b) for a in range(4) for b in range(a + 1, 4)], 4, 1),
    "K5": ([(a, b) for a in range(5) for b in range(a + 1, 5)], 10, 1),
    "two_triangles": ([(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)], 2, 2),
    "bowtie": ([(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)], 2, 1),
}
