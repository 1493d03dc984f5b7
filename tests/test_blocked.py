from __future__ import annotations

import numpy as np

from tests.conftest import TINY, hub_graph, make_edges, raw_pairs
from triangle_counting_spark.operators.components import (
    connected_components,
    connected_components_blocked,
)
from triangle_counting_spark.operators.pagerank import pagerank, pagerank_blocked

# the TINY fixtures, plus a hub graph as raw input (reversed and
# duplicated edges), which each tier canonicalizes itself
INPUTS = {**{name: t[0] for name, t in TINY.items()}, "hub_raw": raw_pairs(hub_graph())}


def test_blocked_cc_matches_shuffle(spark):
    for name in ("two_triangles", "bowtie", "star5", "hub_raw"):
        e = make_edges(spark, INPUTS[name])
        a = {r.v: r.component for r in connected_components(e).state.collect()}
        b = {r.v: r.component for r in connected_components_blocked(e).state.collect()}
        assert a == b, name


def test_blocked_lp_matches_shuffle(spark):
    from triangle_counting_spark.operators.labelprop import (
        label_propagation,
        label_propagation_blocked,
    )

    for name in ("two_triangles", "K5", "bowtie", "path4"):
        e = make_edges(spark, TINY[name][0])
        a = {r.v: r.label for r in label_propagation(e, max_iter=7).state.collect()}
        b = {
            r.v: r.label
            for r in label_propagation_blocked(e, max_iter=7).state.collect()
        }
        assert a == b, name


def test_blocked_cc_long_path_few_rounds(spark):
    e = make_edges(spark, [(i, i + 1) for i in range(199)])
    res = connected_components_blocked(e, max_iter=6)
    assert res.converged, f"took {res.iterations}"
    assert res.iterations <= 4  # driver pointer jumping collapses the chain
    assert {r.component for r in res.state.collect()} == {0}


def test_blocked_matches_shuffle_pagerank(spark):
    for name in ("bowtie", "two_triangles", "star5", "hub_raw"):
        e = make_edges(spark, INPUTS[name])
        a = {r.v: r["rank"] for r in pagerank(e, tol=1e-10, max_iter=60).state.collect()}
        b = {
            r.v: r["rank"]
            for r in pagerank_blocked(e, tol=1e-10, max_iter=60).state.collect()
        }
        assert set(a) == set(b)
        for v in a:
            assert abs(a[v] - b[v]) < 1e-12, (name, v)


def _resume_bit_identical(spark, ck, n_blocks=None):
    e = make_edges(spark, TINY["bowtie"][0])
    kw = dict(tol=1e-8, max_iter=60, checkpoint_dir=ck, checkpoint_every=5, n_blocks=n_blocks)
    r1 = pagerank_blocked(e, **kw)
    r2 = pagerank_blocked(e, **kw)
    assert r2.metrics and r2.metrics[0].get("resumed")
    a = {r.v: r["rank"] for r in r1.state.collect()}
    b = {r.v: r["rank"] for r in r2.state.collect()}
    assert a == b


def test_blocked_resume_bit_identical(spark, tmp_path):
    # the default is one block: rounds run in the driver
    _resume_bit_identical(spark, str(tmp_path / "ck"))


def test_blocked_resume_bit_identical_multi_block(spark, tmp_path):
    # two blocks: rounds run as Spark tasks
    _resume_bit_identical(spark, str(tmp_path / "ck"), n_blocks=2)


def _lexsort_vote(lbl_of, s, d, _w):
    """The blocked LP vote as two lexsorts: (dst, label) runs, then runs
    ordered by (dst, count desc, label asc), first run per dst."""
    lbl = lbl_of[s]
    order = np.lexsort((lbl, d))
    dd, lbl = d[order], lbl[order]
    new_run = np.r_[True, (dd[1:] != dd[:-1]) | (lbl[1:] != lbl[:-1])]
    starts = np.flatnonzero(new_run)
    cnts = np.diff(np.r_[starts, len(dd)])
    rd, rl = dd[starts], lbl[starts]
    w = np.lexsort((rl, -cnts, rd))
    rd, rl = rd[w], rl[w]
    first = np.flatnonzero(np.r_[True, rd[1:] != rd[:-1]])
    return rd[first], rl[first].astype(np.float64)


def test_lp_vote_matches_lexsort_vote():
    """The one-sort vote picks the same (count desc, label asc) winner as
    the lexsort vote, on random votes over few labels (many ties),
    unsorted destinations, and labels up to 2^31 - 1."""
    from triangle_counting_spark.operators.labelprop import lp_vote

    vote = lp_vote()
    rng = np.random.default_rng(7)
    for t in range(200):
        n, m, k = int(rng.integers(1, 60)), int(rng.integers(1, 500)), int(rng.integers(1, 6))
        s = rng.integers(0, n, m).astype(np.int32)
        d = rng.integers(0, n, m).astype(np.int32)
        labels = rng.integers(0, k, n).astype(np.int64)
        if t % 4 == 0:
            labels += 2**31 - k
        want_d, want_l = _lexsort_vote(labels, s, d, None)
        got_d, got_l = vote(labels, s, d, None)
        assert got_d.dtype == np.int64 and got_l.dtype == np.float64
        assert np.array_equal(got_d, want_d.astype(np.int64)), t
        assert np.array_equal(got_l, want_l), t


def test_blocked_weighted_pagerank_matches_shuffle(spark):
    from triangle_counting_spark.operators.pagerank import (
        pagerank_blocked,
        pagerank_fixed,
    )

    e = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (1, 3, 1.0), (3, 4, 2.0)],
        "src long, dst long, weight double",
    )
    sh = {r.v: r.rank for r in pagerank_fixed(e, 10, weight_col="weight").collect()}
    bl = {
        r.v: r.rank
        for r in pagerank_blocked(
            e, tol=-1.0, max_iter=10, weight_col="weight"
        ).state.collect()
    }
    assert set(sh) == set(bl)
    for v in sh:
        assert abs(sh[v] - bl[v]) < 1e-12, (v, sh[v], bl[v])


def test_cc_blocked_path_honours_max_iter(spark):
    """connected_components hands its max_iter to the blocked tier: a
    20-vertex path needs two blocked rounds (one to collapse the chain,
    one to see no change), so a cap of one stops it unconverged."""
    e = make_edges(spark, [(i, i + 1) for i in range(19)])
    capped = connected_components(e, max_iter=1, tier="blocked")
    assert capped.iterations == 1 and not capped.converged
    full = connected_components(e, max_iter=60)  # auto takes the blocked tier
    assert full.converged and full.iterations == 2
    assert {r.component for r in full.state.collect()} == {0}
