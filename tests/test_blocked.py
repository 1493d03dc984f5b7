from __future__ import annotations

from tests.conftest import TINY, make_edges
from triangle_counting_spark.operators.components import (
    connected_components,
    connected_components_blocked,
)
from triangle_counting_spark.operators.pagerank import pagerank, pagerank_blocked


def test_blocked_cc_matches_shuffle(spark):
    for name in ("two_triangles", "bowtie", "star5"):
        e = make_edges(spark, TINY[name][0])
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
    for name in ("bowtie", "two_triangles", "star5"):
        e = make_edges(spark, TINY[name][0])
        a = {r.v: r["rank"] for r in pagerank(e, tol=1e-10, max_iter=60).state.collect()}
        b = {
            r.v: r["rank"]
            for r in pagerank_blocked(e, tol=1e-10, max_iter=60).state.collect()
        }
        assert set(a) == set(b)
        for v in a:
            assert abs(a[v] - b[v]) < 1e-12, (name, v)


def test_blocked_resume_bit_identical(spark, tmp_path):
    e = make_edges(spark, TINY["bowtie"][0])
    ck = str(tmp_path / "ck")
    r1 = pagerank_blocked(e, tol=1e-8, max_iter=60, checkpoint_dir=ck, checkpoint_every=5)
    r2 = pagerank_blocked(e, tol=1e-8, max_iter=60, checkpoint_dir=ck, checkpoint_every=5)
    assert r2.metrics and r2.metrics[0].get("resumed")
    a = {r.v: r["rank"] for r in r1.state.collect()}
    b = {r.v: r["rank"] for r in r2.state.collect()}
    assert a == b


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
