"""Blocked (broadcast-CSR) BFS must reproduce the shuffle tier's
lexicographic (root, level) fixpoint exactly — including the tie rule:
with explicit roots, the SMALLEST reaching root claims a vertex even when
another root is nearer."""

from __future__ import annotations

import pytest

from tests.conftest import hub_graph, make_edges, raw_pairs


CASES = {
    "path": [(i, i + 1) for i in range(12)],
    "two_components": [(0, 1), (1, 2), (5, 6), (6, 7), (7, 5)],
    "star": [(0, i) for i in range(1, 9)],
    "gappy_ids": [(100, 205), (205, 999), (7, 100), (3000, 4000)],
    # reversed and duplicated edges, which each tier canonicalizes itself
    "hub_raw": raw_pairs(hub_graph()),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_blocked_matches_shuffle_all_roots(spark, name):
    from triangle_counting_spark.operators.bfs import (
        bfs_levels,
        bfs_levels_blocked,
    )

    e = make_edges(spark, CASES[name])
    a = {(r.v, r.root, r.level) for r in bfs_levels(e, tier="shuffle").collect()}
    b = {(r.v, r.root, r.level) for r in bfs_levels_blocked(e).collect()}
    assert a == b


@pytest.mark.parametrize("name", sorted(CASES))
def test_blocked_matches_shuffle_explicit_roots(spark, name):
    """Roots 1 and 6 sit in one component on the path fixture — the
    lexicographic tie: nearer-but-larger root 6 must NOT claim vertices
    reachable from root 1."""
    from triangle_counting_spark.operators.bfs import (
        bfs_levels,
        bfs_levels_blocked,
    )

    e = make_edges(spark, CASES[name])
    a = {
        (r.v, r.root, r.level)
        for r in bfs_levels(e, roots=[1, 6], tier="shuffle").collect()
    }
    b = {(r.v, r.root, r.level) for r in bfs_levels_blocked(e, roots=[1, 6]).collect()}
    assert a == b


def test_auto_tier_routes_small_graph_to_blocked(spark):
    """At fits-in-memory scale the auto tier must take the blocked path and
    still produce the shuffle fixpoint (differential, not plan-peeking)."""
    from triangle_counting_spark.operators.bfs import bfs_levels

    e = make_edges(spark, CASES["two_components"])
    auto = {(r.v, r.root, r.level) for r in bfs_levels(e).collect()}
    shuffle = {(r.v, r.root, r.level) for r in bfs_levels(e, tier="shuffle").collect()}
    assert auto == shuffle


def test_blocked_missing_root_dropped(spark):
    from triangle_counting_spark.operators.bfs import bfs_levels_blocked

    e = make_edges(spark, CASES["star"])
    out = bfs_levels_blocked(e, roots=[0, 424242]).collect()
    assert {r.root for r in out} == {0}
