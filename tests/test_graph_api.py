"""Graph facade: one-import API delegating to the gate-verified operators."""

from __future__ import annotations

import pytest

from tests.conftest import TINY, make_edges


def test_graph_facade_end_to_end(spark):
    from triangle_counting_spark.graph import Graph

    g = Graph(make_edges(spark, TINY["bowtie"][0])).persist()
    try:
        assert g.triangle_count() == 2
        assert g.triangle_count("sql") == 2
        assert g.vertices.count() == 5
        deg = {r.v: r.degree for r in g.degrees().collect()}
        assert deg[2] == 4
        tri = {r.v: r.triangles for r in g.triangles_per_vertex().collect()}
        assert tri[2] == 2
        assert g.clustering_coefficient() == pytest.approx(
            3 * 2 / sum(d * (d - 1) / 2 for d in deg.values())
        )
        cc = g.connected_components().state
        assert cc.select("component").distinct().count() == 1
        pr = g.pagerank(tol=-1.0, max_iter=5).state
        assert pr.count() == 5
        lv = {r.v: r.level for r in g.bfs(roots=[0]).collect()}
        assert lv[4] == 2
        assert 0.0 <= g.k_metric() <= 1.0
        walks = g.biased_walks(length=3, p=2.0, q=0.5)
        assert walks.count() == 5 * 4  # (L+1) rows per vertex walk
        assert g.plan().strategy == "sql"  # tiny graph
    finally:
        g.unpersist()


def test_graph_from_rmat(spark):
    from triangle_counting_spark.graph import Graph

    g = Graph.from_rmat(spark, scale=8, num_partitions=4)
    assert g.triangle_count("bcast") == g.triangle_count("sql")


def test_graph_tier_dispatch(spark):
    """tier="auto" routes small graphs to the blocked substrate; both tiers
    agree (the cross-tier invariant the operators already test)."""
    from triangle_counting_spark.graph import Graph
    from triangle_counting_spark.plans.planner import choose_iterative_tier

    g = Graph(make_edges(spark, TINY["two_triangles"][0]))
    assert choose_iterative_tier(g.edges, assume_canonical=True) == "blocked"
    assert choose_iterative_tier(g.edges, blocked_max_edges=2, assume_canonical=True) == "shuffle"
    pr_b = {r.v: r.rank for r in g.pagerank(tier="blocked", tol=-1.0, max_iter=5).state.collect()}
    pr_s = {r.v: r.rank for r in g.pagerank(tier="shuffle", tol=-1.0, max_iter=5).state.collect()}
    assert set(pr_b) == set(pr_s)
    for v in pr_b:
        assert abs(pr_b[v] - pr_s[v]) < 1e-9
    cc_b = {r.v: r.component for r in g.connected_components(tier="blocked").state.collect()}
    cc_s = {r.v: r.component for r in g.connected_components(tier="shuffle").state.collect()}
    assert cc_b == cc_s
    lp = {r.v: r.label for r in g.label_propagation(2).collect()}
    assert len(lp) == 6


def test_graph_subgraph_and_delta_methods(spark):
    from triangle_counting_spark.graph import Graph

    # triangle + pendant path; K4 for truss
    g = Graph(make_edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]))
    core = g.kcore(2)
    assert core.triangle_count("sql") == 1 and core.edges.count() == 3
    added = g.triangle_count_delta(
        spark.createDataFrame([(0, 4)], "src long, dst long")
    )
    assert added == 0  # 0 and 4 share no neighbor
    added2 = g.triangle_count_delta(
        spark.createDataFrame([(1, 3)], "src long, dst long")
    )
    assert added2 == 1  # {1,3} closes {1,2,3}


def test_graph_decides_iterative_tier_once(spark, monkeypatch):
    """The facade passes the tier it chose down to every tiered operator:
    a pinned tier asks the planner nothing, auto asks it once per call
    and, after the Graph's first count, runs no count job for it, and a
    pinned "shuffle" runs the shuffle tier even on a graph that fits."""
    from triangle_counting_spark.graph import Graph
    from triangle_counting_spark.operators import components, labelprop
    from triangle_counting_spark.plans import planner

    sc = spark.sparkContext
    group = "graph-decides-once"
    tracker = sc.statusTracker()
    calls, tier_jobs = [], []  # planner calls; jobs run by each tier decision
    real = planner.choose_iterative_tier
    monkeypatch.setattr(
        planner, "choose_iterative_tier", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    real_tier = Graph._tier

    def counting_tier(self, tier):
        before = len(tracker.getJobIdsForGroup(group))
        out = real_tier(self, tier)
        tier_jobs.append(len(tracker.getJobIdsForGroup(group)) - before)
        return out

    monkeypatch.setattr(Graph, "_tier", counting_tier)
    ran = []
    for mod, name in ((components, "connected_components_blocked"),
                      (labelprop, "label_propagation_blocked")):
        blocked_op = getattr(mod, name)
        monkeypatch.setattr(
            mod, name, lambda *a, _f=blocked_op, _n=name, **k: ran.append(_n) or _f(*a, **k)
        )
    g = Graph(make_edges(spark, TINY["two_triangles"][0]))
    sc.setJobGroup(group, group)
    try:
        cc = {r.v: r.component for r in g.connected_components(tier="shuffle").state.collect()}
        lp = {r.v: r.label for r in g.label_propagation(2, tier="shuffle").collect()}
        assert calls == [] and ran == []
        assert cc == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
        assert lp == cc
        g.connected_components()
        g.label_propagation(2)
        assert len(calls) == 2
        assert tier_jobs[:2] == [0, 0] and tier_jobs[2] >= 1 and tier_jobs[3:] == [0]
        assert ran == ["connected_components_blocked", "label_propagation_blocked"]
        methods = {
            "bfs": lambda t: g.bfs(tier=t),
            "distance_stats": lambda t: g.distance_stats(n_roots=2, tier=t),
            "centrality": lambda t: g.centrality(n_roots=2, tier=t),
            "betweenness": lambda t: g.betweenness(n_roots=2, tier=t),
            "sssp": lambda t: g.sssp(root=0, tier=t),
        }
        for name, run in methods.items():
            for tier, want in (("blocked", 0), ("auto", 1)):
                calls.clear()
                tier_jobs.clear()
                run(tier).collect()
                assert (len(calls), tier_jobs) == (want, [0]), (name, tier)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_bcast_cutoff_override_above_hard_cap_raises(spark):
    from triangle_counting_spark.plans.planner import BCAST_HARD_CAP_EDGES, bcast_max_edges

    key = "spark.tcs.bcastMaxEdges"
    try:
        spark.conf.set(key, str(BCAST_HARD_CAP_EDGES))
        assert bcast_max_edges(spark) == BCAST_HARD_CAP_EDGES
        spark.conf.set(key, "1000")
        assert bcast_max_edges(spark) == 1000
        spark.conf.set(key, str(BCAST_HARD_CAP_EDGES + 1))
        with pytest.raises(ValueError, match="hard cap"):
            bcast_max_edges(spark)
    finally:
        spark.conf.unset(key)
