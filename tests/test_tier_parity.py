"""Both tiers of the dual-tier operators agree.

Each operator runs under default dispatch (the broadcast-CSR / numpy tier
on these small inputs) and again with ``spark.tcs.bcastMaxEdges=0``,
which sends it to its row plan. The two results must be equal, and equal
to a brute-force count on the driver.
"""

from __future__ import annotations

import itertools
from collections import defaultdict

import pytest

from tests.conftest import TINY, hub_graph, make_edges, raw_pairs
from triangle_counting_spark.operators.subgraphs import kcore_edges
from triangle_counting_spark.operators.triangles import (
    four_cycle_count,
    triangle_count,
    triangle_count_delta,
)

CUTOFF = "spark.tcs.bcastMaxEdges"


# every FIXTURES.md graph in one call: their disjoint union (vertex ids
# offset per fixture), on which each count is the sum of the fixtures'
GRAPHS = {
    "tiny_union": [
        (a + 100 * i, b + 100 * i)
        for i, name in enumerate(sorted(TINY))
        for a, b in TINY[name][0]
    ],
    "hub": hub_graph(),
}


def _adj(pairs) -> dict[int, set[int]]:
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return adj


def _brute_triangles(pairs) -> int:
    adj = _adj(pairs)
    return sum(
        len(adj[a] & adj[b] - {a, b}) for a in adj for b in adj[a] if a < b
    ) // 3


def _brute_c4(pairs) -> int:
    adj = _adj(pairs)
    pair_sum = sum(
        c * (c - 1) // 2
        for u, w in itertools.combinations(sorted(adj), 2)
        for c in [len(adj[u] & adj[w])]
    )
    return pair_sum // 2  # each square has two diagonals


def _brute_kcore(pairs, k: int) -> list[tuple[int, int]]:
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        adj = _adj(edges)
        keep = {(a, b) for a, b in edges if len(adj[a]) >= k and len(adj[b]) >= k}
        if keep == edges:
            return sorted(edges)
        edges = keep


def _both_tiers(spark, run):
    """``run()`` under default dispatch, then with the cutoff at 0 edges."""
    default = run()
    spark.conf.set(CUTOFF, "0")
    try:
        rows = run()
    finally:
        spark.conf.unset(CUTOFF)
    return default, rows


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_tiers_agree(spark, name):
    pairs = GRAPHS[name]
    e = make_edges(spark, pairs).persist()
    # Δ: every other edge, one edge already in G and one reversed new edge
    g_pairs, d_pairs = pairs[::2], pairs[1::2] + pairs[:1]
    if len(d_pairs) > 1:
        d_pairs = d_pairs + [d_pairs[0][::-1]]
    g, delta = make_edges(spark, g_pairs), make_edges(spark, d_pairs)

    def run():
        return (
            four_cycle_count(e).collect()[0]["four_cycles"],
            triangle_count(e, "level").collect()[0]["triangles"],
            triangle_count_delta(g, delta).collect()[0]["triangles_added"],
            sorted(tuple(r) for r in kcore_edges(e, 3).collect()),
        )

    default, rows = _both_tiers(spark, run)
    assert default == rows
    c4, tc, added, core = default
    assert c4 == _brute_c4(pairs)
    assert tc == _brute_triangles(pairs)
    assert added == _brute_triangles(g_pairs + d_pairs) - _brute_triangles(g_pairs)
    assert core == _brute_kcore(pairs, 3)
    e.unpersist()


def test_delta_wide_ids_agree(spark):
    """Ids past 2^31 skip the delta fast path: default dispatch then takes
    the Spark prep into the broadcast kernel, the cutoff the row plan."""
    base = 1 << 40
    pairs = [(a + base, b + base) for a, b in GRAPHS["hub"]]
    g, delta = make_edges(spark, pairs[::2]), make_edges(spark, pairs[1::2])
    default, rows = _both_tiers(
        spark,
        lambda: triangle_count_delta(g, delta).collect()[0]["triangles_added"],
    )
    assert default == rows
    assert default == _brute_triangles(pairs) - _brute_triangles(pairs[::2])


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_label_propagation_tiers_agree(spark, name):
    """Shuffle-tier and blocked label propagation give the same labels
    after the same number of rounds on raw input (duplicate and reversed
    edges), which both canonicalize themselves."""
    from triangle_counting_spark.operators.labelprop import (
        label_propagation,
        label_propagation_blocked,
    )

    raw = make_edges(spark, raw_pairs(GRAPHS[name]))
    shuffle = label_propagation(raw, max_iter=5)
    blocked = label_propagation_blocked(raw, max_iter=5)
    assert dict(shuffle.state.collect()) == dict(blocked.state.collect())
    assert (shuffle.iterations, shuffle.converged) == (blocked.iterations, blocked.converged)
