"""Regression tests for the round-2 correctness fixes (VERDICT/ADVICE r1):

- _compact_ids phantom vertices on gappy/1-based id ranges
- blocked-tier consumers emit rows only for real vertices
- directed PageRank preserves edge direction
- weighted (3-token) MatrixMarket files parse
- stopword_ratio is occurrence-based
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import make_edges


# ---------------------------------------------------------- _compact_ids


def test_compact_ids_one_based_has_no_phantoms():
    from triangle_counting_spark.plans.blocked import compact_ids as _compact_ids

    # 1-based path graph 1-2-3-4-5: id 0 never appears
    s = np.array([1, 2, 3, 4], dtype=np.int64)
    d = np.array([2, 3, 4, 5], dtype=np.int64)
    cs, cd, verts = _compact_ids(np, s, d, len(s))
    assert sorted(verts.tolist()) == [1, 2, 3, 4, 5]  # was 7 verts pre-fix
    assert verts[cs[0]] == 1 and verts[cd[0]] == 2
    # gappy range
    s2 = np.array([10, 20], dtype=np.int64)
    d2 = np.array([20, 30], dtype=np.int64)
    _, _, v2 = _compact_ids(np, s2, d2, 2)
    assert sorted(v2.tolist()) == [10, 20, 30]
    # dense 0-based still takes the arange path
    s3 = np.array([0, 1], dtype=np.int64)
    d3 = np.array([1, 2], dtype=np.int64)
    cs3, cd3, v3 = _compact_ids(np, s3, d3, 2)
    assert v3.tolist() == [0, 1, 2]
    assert cs3.tolist() == [0, 1] and cd3.tolist() == [1, 2]


def test_blocked_tiers_on_one_based_ids(spark):
    """Blocked PR/CC/LP must agree with the shuffle tier on 1-based ids
    (pre-fix: phantom vertex 0 changed n and every rank)."""
    from triangle_counting_spark.operators.components import (
        connected_components,
        connected_components_blocked,
    )
    from triangle_counting_spark.operators.pagerank import (
        pagerank_blocked,
        pagerank_fixed,
    )

    pairs = [(1, 2), (2, 3), (1, 3), (4, 5)]  # triangle + edge, ids 1..5
    e = make_edges(spark, pairs)
    pr_s = {r.v: r.rank for r in pagerank_fixed(e, 10).collect()}
    pr_b = {r.v: r.rank for r in pagerank_blocked(e, tol=-1.0, max_iter=10).state.collect()}
    assert set(pr_b) == {1, 2, 3, 4, 5}
    for v in pr_s:
        assert pr_s[v] == pytest.approx(pr_b[v], abs=1e-9)
    cc_s = {r.v: r.component for r in connected_components(e).state.collect()}
    cc_b = {r.v: r.component for r in connected_components_blocked(e).state.collect()}
    assert cc_s == cc_b
    assert set(cc_b) == {1, 2, 3, 4, 5}


def test_bcast_triangles_one_based(spark):
    from triangle_counting_spark.operators.triangles import triangle_count

    e = make_edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert triangle_count(e, "bcast").collect()[0]["triangles"] == 1


# ---------------------------------------------------------- directed PageRank


def test_directed_pagerank_preserves_direction(spark):
    """3-cycle 1→2→3→1 plus a feeder 4→1: direction matters. Oracle: numpy
    power iteration on the TRUE directed adjacency."""
    from triangle_counting_spark.operators.pagerank import pagerank_fixed

    edges = [(1, 2), (2, 3), (3, 1), (4, 1)]
    e = make_edges(spark, edges)
    got = {r.v: r.rank for r in pagerank_fixed(e, 10, directed=True).collect()}

    ids = [1, 2, 3, 4]
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = np.zeros(n)
    for s, d in edges:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += r[idx[s]] / out[idx[s]]
        dangling = r[out == 0].sum()
        r = (1 - 0.85) / n + 0.85 * (contrib + dangling / n)
    for v in ids:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-9)
    # direction must matter: rank(1) has two in-edges, rank(4) none
    assert got[1] > got[4]


# ---------------------------------------------------------- weighted .mtx


def test_mtx_weighted_coordinate_real(spark, tmp_path):
    p = tmp_path / "weighted.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate real symmetric\n"
        "3 3 3\n"
        "1 2 0.5\n2 3 1.5\n1 3 2.25\n"
    )
    from triangle_counting_spark.sources.mtx import read_mtx

    edges = read_mtx(spark, str(p))
    got = sorted((r.src, r.dst) for r in edges.collect())
    assert got == [(0, 1), (0, 2), (1, 2)]


def test_mtx_weighted_integer_values_not_header(spark, tmp_path):
    # every data line has 3 integer tokens — pre-fix the header pick was
    # nondeterministic and all edges were dropped
    p = tmp_path / "wint.mtx"
    p.write_text("%%MatrixMarket matrix coordinate integer general\n"
                 "4 4 2\n1 2 7\n3 4 9\n")
    from triangle_counting_spark.sources.mtx import read_mtx

    edges = read_mtx(spark, str(p))
    got = sorted((r.src, r.dst) for r in edges.collect())
    assert got == [(0, 1), (2, 3)]


# ---------------------------------------------------------- stopword_ratio


def test_stopword_ratio_occurrence_based(spark):
    from triangle_counting_spark.functions.text import stopword_ratio

    docs = spark.createDataFrame(
        [
            (1, "the the the the"),  # 4/4 stopword occurrences
            (2, "the cat sat on mats"),  # 2/5 ("the", "on")
            (3, "zebra quark boson"),  # 0/3
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.stopword_ratio for r in stopword_ratio(docs).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.4)
    assert got[3] == pytest.approx(0.0)


def test_weighted_pagerank_vs_numpy(spark):
    """Weighted PageRank against a numpy oracle: rank flows ∝ edge weight."""
    from triangle_counting_spark.operators.pagerank import pagerank_fixed

    edges = [(1, 2, 3.0), (2, 3, 1.0), (1, 3, 1.0)]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = {
        r.v: r.rank
        for r in pagerank_fixed(e, 8, weight_col="weight").collect()
    }
    ids = [1, 2, 3]
    idx = {v: i for i, v in enumerate(ids)}
    sym = edges + [(b, a, w) for a, b, w in edges]
    wout = {v: sum(w for a, _, w in sym if a == v) for v in ids}
    r = np.full(3, 1 / 3)
    for _ in range(8):
        c = np.zeros(3)
        for a, b, w in sym:
            c[idx[b]] += r[idx[a]] * w / wout[a]
        r = 0.15 / 3 + 0.85 * c
    for v in ids:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-9)
    # weight matters: vertex 2 (heavy edge to 1) outranks vertex 3
    assert got[2] > got[3]


def test_weighted_mtx_roundtrip(spark, tmp_path):
    from triangle_counting_spark.sources.mtx import read_mtx

    p = tmp_path / "w.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate real symmetric\n"
        "3 3 3\n1 2 0.5\n2 1 0.75\n2 3 1.5\n"
    )
    got = {(r.src, r.dst): r.weight for r in read_mtx(spark, str(p), weighted=True).collect()}
    assert got == {(0, 1): 0.75, (1, 2): 1.5}  # max weight wins on dup


def test_personalized_pagerank_concentrates_on_seeds(spark):
    from triangle_counting_spark.operators.pagerank import pagerank_fixed

    # path 1-2-3-4-5: personalize on {1} — rank decays with distance
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {r.v: r.rank for r in pagerank_fixed(e, 20, personalized_for=[1]).collect()}
    # proximity to the seed: the near end of the path far outranks the far
    # end (1 vs 2 ordering is degree-driven, so only coarse ordering here —
    # the numpy oracle below is the exact check)
    assert min(got[1], got[2]) > max(got[4], got[5])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # numpy oracle
    ids = [1, 2, 3, 4, 5]
    idx = {v: i for i, v in enumerate(ids)}
    sym = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 5), (5, 4)]
    out = {v: sum(1 for a, _ in sym if a == v) for v in ids}
    tele = np.array([1.0, 0, 0, 0, 0])
    r = tele.copy()
    for _ in range(20):
        c = np.zeros(5)
        for a, b in sym:
            c[idx[b]] += r[idx[a]] / out[a]
        r = 0.15 * tele + 0.85 * c
    for v in ids:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-9)
