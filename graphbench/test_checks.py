"""Self-tests of the benchmark's answer checks on the known-truth graphs of
FIXTURES.md §3 (triangle, K4, K5, two_triangles, bowtie, isolated).

    python3 -m pytest graphbench/test_checks.py -q     # or
    python3 graphbench/test_checks.py
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402


def _edges(pairs):
    a = np.array(pairs, dtype=np.int64)
    return np.minimum(a[:, 0], a[:, 1]), np.maximum(a[:, 0], a[:, 1])


def _clique(vs):
    return list(itertools.combinations(vs, 2))


TRIANGLE = [(0, 1), (1, 2), (0, 2)]
TWO_TRIANGLES = TRIANGLE + [(3, 4), (4, 5), (3, 5)]
# name -> (edges, isolated vertices, triangles, components)
FIXTURES = {
    "triangle": (TRIANGLE, (), 1, 1),
    "K4": (_clique(range(4)), (), 4, 1),
    "K5": (_clique(range(5)), (), 10, 1),
    "two_triangles": (TWO_TRIANGLES, (), 2, 2),
    "bowtie": ([(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)], (), 2, 1),
    "isolated": (TWO_TRIANGLES, (6,), 2, 3),
}


def test_triangles_and_components():
    for name, (pairs, iso, tri, ncomp) in FIXTURES.items():
        s, d = _edges(pairs)
        assert checks.triangles(s, d) == tri, name
        _, label = checks.components(s, d, iso)
        assert len(np.unique(label)) == ncomp, name


def test_component_labels_are_minimum_ids():
    _, label = checks.components(*_edges(TWO_TRIANGLES), (6,))
    assert label.tolist() == [0, 0, 0, 3, 3, 3, 6]


def test_pagerank_uniform_on_vertex_transitive_graphs():
    for name in ("triangle", "K4", "K5"):
        s, d = _edges(FIXTURES[name][0])
        v, r = checks.pagerank(s, d)
        assert np.allclose(r, 1.0 / len(v), rtol=0, atol=1e-12), name


def test_pagerank_spreads_isolated_vertex_mass():
    # six symmetric triangle vertices with rank x, the isolated one y:
    # y = 0.15/7 + 0.85*y/7 and 6x + y = 1
    v, r = checks.pagerank(*_edges(TWO_TRIANGLES), (6,))
    y = 0.15 / (7 - 0.85)
    assert v.tolist() == list(range(7))
    assert np.allclose(r, [(1 - y) / 6] * 6 + [y], rtol=0, atol=1e-6)
    assert abs(r.sum() - 1.0) < 1e-12


def test_label_propagation_settles_each_clique_on_its_minimum():
    for name in ("triangle", "K4", "K5", "two_triangles", "isolated"):
        pairs, iso, _, _ = FIXTURES[name]
        s, d = _edges(pairs)
        v, lab = checks.label_propagation(s, d, 3, iso)
        _, cc = checks.components(s, d, iso)
        assert np.array_equal(lab, cc), name


def test_label_propagation_tie_goes_to_smallest_label():
    # round 1 on a triangle: every vertex sees two labels once each
    v, lab = checks.label_propagation(*_edges(TRIANGLE), 1)
    assert lab.tolist() == [1, 0, 0]


def test_clique_truth_matches_edge_list_truth():
    groups = [np.array([10, 11, 12]), np.array([20, 21, 22, 23]), np.array([30, 31, 32, 33, 34])]
    pairs = [p for g in groups for p in _clique(g.tolist())]
    s, d = _edges(pairs)
    clique = checks.CliqueTruth(groups)
    full = checks.EdgeListTruth(s, d, lp_rounds=3)
    assert clique.edges == full.edges == 3 + 6 + 10
    assert clique.triangles == full.triangles == 1 + 4 + 10
    for t in (clique, full):
        assert t.check_edges(s, d) is None
        assert t.check_triangles(15) is None
        assert t.check_components(*full.cc) is None
        assert t.check_pagerank(*full.pr) is None
        assert t.check_label_propagation(*full.lp) is None


def test_checks_catch_wrong_answers():
    groups = [np.array([10, 11, 12]), np.array([20, 21, 22, 23])]
    s, d = _edges([p for g in groups for p in _clique(g.tolist())])
    for t in (checks.CliqueTruth(groups), checks.EdgeListTruth(s, d, lp_rounds=3)):
        assert t.check_triangles(4) is not None
        assert t.check_edges(s[1:], d[1:]) is not None  # a missing edge
        assert t.check_edges(np.r_[s, 10], np.r_[d, 20]) is not None  # an extra one
        v, cc = checks.components(s, d)
        bad = cc.copy()
        bad[-1] = 10  # one vertex put in the other component
        assert t.check_components(v, bad) is not None
        assert t.check_components(v[1:], cc[1:]) is not None  # a vertex dropped
        assert t.check_label_propagation(v, bad) is not None
        _, r = checks.pagerank(s, d)
        assert t.check_pagerank(v, r + np.r_[1e-5, -1e-5, np.zeros(len(r) - 2)]) is not None
    assert checks.CliqueTruth(groups).check_edges(np.array([10]), np.array([20])) is not None


def test_generators_are_seeded():
    sizes = inputs.repo_sizes(40, 30, 0.8)
    assert sizes.min() == 3
    a, b, c = (inputs.files_table(sizes, seed) for seed in (1, 1, 2))
    assert a.equals(b) and not a.equals(c)
    assert len(a) == sizes.sum() and not a.duplicated(["repo", "path"]).any()
    s1, d1 = inputs.rmat_edges(8, 4, seed=1)
    s2, d2 = inputs.rmat_edges(8, 4, seed=1)
    assert np.array_equal(s1, s2) and np.array_equal(d1, d2)
    assert len(s1) == 4 * 256 and np.all(s1 < d1)
    assert len(np.unique(s1 * 256 + d1)) == len(s1)


if __name__ == "__main__":
    tests = [f for name, f in sorted(globals().items()) if name.startswith("test_")]
    for f in tests:
        f()
    print(f"{len(tests)} passed")
