"""Exact 4-cycle counting vs a brute-force cycle enumerator."""

from __future__ import annotations

from itertools import combinations, permutations

import pytest

from triangle_counting_spark.operators.triangles import four_cycle_count


def _brute_c4(edges: list[tuple[int, int]]) -> int:
    eset = {frozenset(e) for e in edges}
    verts = sorted({v for e in edges for v in e})
    cnt = 0
    for quad in combinations(verts, 4):
        for perm in permutations(quad):
            # canonical cycle representative: smallest vertex first,
            # smaller of the two neighbors second
            if perm[0] == min(perm) and perm[1] < perm[3]:
                a, b, c, d = perm
                if all(
                    frozenset(p) in eset
                    for p in [(a, b), (b, c), (c, d), (d, a)]
                ):
                    cnt += 1
    return cnt


FIXTURES = [
    [(1, 2), (2, 3), (3, 4), (4, 1)],  # one plain square
    list(combinations(range(5), 2)),  # K5: 3 per 4-subset = 15
    [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)],  # chorded square: still 1
    [(1, 2), (2, 3), (3, 1)],  # triangle: 0
    [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5), (5, 4)],  # fused squares: 3
    list(combinations(range(4), 2)),  # K4: 3
    [(1, 2), (3, 4)],  # no cycles at all
]


@pytest.mark.parametrize("edges", FIXTURES)
def test_four_cycles_match_brute_force(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = four_cycle_count(df).collect()[0]["four_cycles"]
    assert got == _brute_c4(edges)


def test_four_cycles_bipartite_butterflies(spark):
    # complete bipartite K(3,3): C(3,2)² = 9 butterflies
    edges = [(a, b) for a in (1, 2, 3) for b in (10, 20, 30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert four_cycle_count(df).collect()[0]["four_cycles"] == 9


def test_four_cycles_empty_and_duplicates(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert four_cycle_count(empty).collect()[0]["four_cycles"] == 0
    # duplicate + reversed edges collapse before counting
    noisy = [(1, 2), (2, 1), (2, 3), (3, 4), (4, 1), (3, 4)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    assert four_cycle_count(df).collect()[0]["four_cycles"] == 1


# ---- K4 (4-clique) counting ----

from triangle_counting_spark.operators.triangles import four_clique_count  # noqa: E402


def _brute_k4(edges: list[tuple[int, int]]) -> int:
    eset = {frozenset(e) for e in edges if e[0] != e[1]}
    verts = sorted({v for e in edges for v in e})
    return sum(
        1
        for quad in combinations(verts, 4)
        if all(frozenset(p) in eset for p in combinations(quad, 2))
    )


@pytest.mark.parametrize("edges", FIXTURES)
def test_four_cliques_match_brute_force(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = four_clique_count(df).collect()[0]["four_cliques"]
    assert got == _brute_k4(edges)


def test_four_cliques_closed_forms(spark):
    from math import comb

    # K6: C(6,4) = 15; two disjoint K4s: 2; K4 + chorded square: 1
    k6 = list(combinations(range(6), 2))
    df = spark.createDataFrame(k6, "src long, dst long")
    assert four_clique_count(df).collect()[0]["four_cliques"] == comb(6, 4)
    two = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [
        (a, b) for a in range(10, 14) for b in range(a + 1, 14)
    ]
    df2 = spark.createDataFrame(two, "src long, dst long")
    assert four_clique_count(df2).collect()[0]["four_cliques"] == 2


def test_four_cliques_empty_and_duplicates(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert four_clique_count(empty).collect()[0]["four_cliques"] == 0
    noisy = [(1, 2), (2, 1), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4), (3, 4)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    assert four_clique_count(df).collect()[0]["four_cliques"] == 1


def test_four_cliques_rmat_differential(spark):
    from triangle_counting_spark.sources.rmat import rmat_edges

    e = rmat_edges(spark, scale=7, edge_factor=6, seed=5)
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    assert four_clique_count(e).collect()[0]["four_cliques"] == _brute_k4(pairs)


def test_four_cliques_huge_ids_no_overflow(spark):
    # ids near 2^62: the a+b+c sum would wrap; the nested least/greatest
    # median must not (review fix)
    base = 4_400_000_000_000_000_000
    ids = [base, base + 7, base + 13, base + 21]
    k4 = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    df = spark.createDataFrame(k4, "src long, dst long")
    assert four_clique_count(df).collect()[0]["four_cliques"] == 1


# --- explicit hub cap (max_hub_degree) ------------------------------------


def _hub_fixture():
    """A square {1,2,3,4} and a K4 {10..13} untouched by the hub, plus a
    degree-8 hub (99) fanned into both components."""
    sq = [(1, 2), (2, 3), (3, 4), (4, 1)]
    k4 = [(a, b) for i, a in enumerate(range(10, 14)) for b in range(10, 14)[i + 1:]]
    hub = [(99, v) for v in (1, 2, 3, 4, 10, 11, 12, 13)]
    return sq + k4 + hub


def test_four_cycles_hub_cap(spark):
    edges = _hub_fixture()
    df = spark.createDataFrame(edges, "src long, dst long")
    exact = four_cycle_count(df).collect()[0]
    assert "capped_hubs" not in exact.asDict()  # default schema unchanged
    # cap below the hub's degree (8): hub removed, motifs of the induced
    # subgraph remain — matches brute force on the hub-free edge list
    capped = four_cycle_count(df, max_hub_degree=5).collect()[0]
    assert capped["capped_hubs"] == 1
    assert capped["four_cycles"] == _brute_c4([e for e in edges if 99 not in e])
    # cap above every degree: exact count, zero dropped
    loose = four_cycle_count(df, max_hub_degree=100).collect()[0]
    assert loose["capped_hubs"] == 0
    assert loose["four_cycles"] == exact["four_cycles"]


def test_four_cliques_hub_cap(spark):
    edges = _hub_fixture()
    df = spark.createDataFrame(edges, "src long, dst long")
    exact = four_clique_count(df).collect()[0]
    assert "capped_hubs" not in exact.asDict()
    capped = four_clique_count(df, max_hub_degree=5).collect()[0]
    assert capped["capped_hubs"] == 1
    assert capped["four_cliques"] == _brute_k4([e for e in edges if 99 not in e])
    loose = four_clique_count(df, max_hub_degree=100).collect()[0]
    assert loose["capped_hubs"] == 0
    assert loose["four_cliques"] == exact["four_cliques"]


@pytest.mark.parametrize(
    "name,want",
    [("K4", 1), ("K5", 5), ("bowtie", 0), ("triangle", 0), ("star5", 0), ("two_triangles", 0)],
)
def test_four_cliques_row_plan_beyond_cutoff(spark, monkeypatch, name, want):
    """With the broadcast cutoff at 0 edges the K4 count takes the row
    plan, which runs eagerly and still returns the FIXTURES.md graph's
    C(n, 4) count (bowtie: two triangles sharing one vertex, no K4)."""
    from tests.conftest import TINY
    from triangle_counting_spark.operators import triangles

    def no_bcast(_ce):
        raise AssertionError("the broadcast kernel ran beyond the cutoff")

    monkeypatch.setattr(triangles, "_four_clique_bcast", no_bcast)
    key = "spark.tcs.bcastMaxEdges"
    spark.conf.set(key, "0")
    try:
        out = four_clique_count(spark.createDataFrame(TINY[name][0], "src long, dst long"))
    finally:
        spark.conf.unset(key)
    assert out.collect()[0]["four_cliques"] == want
