"""Every tiered entry point resolves its ``tier`` through
``plans.planner.plan_tier``: an unknown tier name raises before any Spark
job runs, on the operators and on the ``Graph`` facade alike."""

from __future__ import annotations

import pytest

from triangle_counting_spark.graph import Graph
from triangle_counting_spark.operators.betweenness import betweenness
from triangle_counting_spark.operators.bfs import bfs_levels
from triangle_counting_spark.operators.components import connected_components
from triangle_counting_spark.operators.densest import densest_subgraph
from triangle_counting_spark.operators.distances import sampled_distances, sssp
from triangle_counting_spark.operators.hits import hits_fixed
from triangle_counting_spark.operators.labelprop import label_propagation_fixed
from triangle_counting_spark.operators.louvain import louvain
from triangle_counting_spark.operators.mis import maximal_independent_set
from triangle_counting_spark.operators.msf import minimum_spanning_forest
from triangle_counting_spark.operators.scc import strongly_connected_components

ENTRY_POINTS = {
    "mis": lambda e, t: maximal_independent_set(e, tier=t),
    "label_propagation_fixed": lambda e, t: label_propagation_fixed(e, 2, tier=t),
    "label_propagation_fixed_weighted": lambda e, t: label_propagation_fixed(
        e, 2, weight_col="weight", tier=t
    ),
    "densest_subgraph": lambda e, t: densest_subgraph(e, tier=t),
    "betweenness": lambda e, t: betweenness(e, n_roots=2, tier=t),
    "connected_components": lambda e, t: connected_components(e, tier=t),
    "connected_components_short": lambda e, t: connected_components(e, max_iter=5, tier=t),
    "minimum_spanning_forest": lambda e, t: minimum_spanning_forest(e, tier=t),
    "hits_fixed": lambda e, t: hits_fixed(e, 2, tier=t),
    "sampled_distances": lambda e, t: sampled_distances(e, n_roots=2, tier=t),
    "sssp": lambda e, t: sssp(e, root=0, tier=t),
    "scc": lambda e, t: strongly_connected_components(e, tier=t),
    "bfs_levels": lambda e, t: bfs_levels(e, tier=t),
    "louvain": lambda e, t: louvain(e, tier=t),
    "Graph.pagerank": lambda e, t: Graph(e).pagerank(tier=t),
    "Graph.pagerank_personalized": lambda e, t: Graph(e).pagerank(
        tier=t, personalized_for=[0]
    ),
    "Graph.connected_components": lambda e, t: Graph(e).connected_components(tier=t),
    "Graph.label_propagation": lambda e, t: Graph(e).label_propagation(tier=t),
    "Graph.coreness": lambda e, t: Graph(e).coreness(tier=t),
    "Graph.bfs": lambda e, t: Graph(e).bfs(tier=t),
    "Graph.maximal_independent_set": lambda e, t: Graph(e).maximal_independent_set(tier=t),
    "Graph.louvain": lambda e, t: Graph(e).louvain(tier=t),
    "Graph.densest_subgraph": lambda e, t: Graph(e).densest_subgraph(tier=t),
    "Graph.distance_stats": lambda e, t: Graph(e).distance_stats(tier=t),
    "Graph.centrality": lambda e, t: Graph(e).centrality(tier=t),
    "Graph.betweenness": lambda e, t: Graph(e).betweenness(tier=t),
    "Graph.sssp": lambda e, t: Graph(e).sssp(root=0, tier=t),
}


def _jobs_submitted(spark) -> int:
    # the scheduler's next job id: advanced synchronously by every job
    # submission, unlike the status store, which a listener fills later
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_unknown_tier_raises_before_any_job(spark, entry):
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 1.5), (2, 3, 1.0)],
        "src long, dst long, weight double",
    )
    before = _jobs_submitted(spark)
    with pytest.raises(ValueError, match="unknown tier 'bogus'"):
        ENTRY_POINTS[entry](edges, "bogus")
    assert _jobs_submitted(spark) == before



def test_pinned_tier_a_call_cannot_honour_raises(spark):
    """A pinned "blocked" that the call shape rules out fails before any
    job instead of running the shuffle tier: personalized PageRank (only
    the shuffle tier implements it) and a CC ``run_id`` (a shuffle-tier
    checkpoint name)."""
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    before = _jobs_submitted(spark)
    with pytest.raises(ValueError, match="personalized_for"):
        Graph(edges).pagerank(tier="blocked", personalized_for=[0])
    with pytest.raises(ValueError, match="run_id"):
        connected_components(edges, tier="blocked", run_id="r")
    with pytest.raises(ValueError, match="run_id"):
        Graph(edges).connected_components(tier="blocked", run_id="r")
    assert _jobs_submitted(spark) == before


def test_facade_cc_keeps_durable_or_short_auto_on_shuffle(spark, monkeypatch):
    """Graph.connected_components applies the operator's rule before its
    own tier decision: an auto call with a run_id or under 50 rounds asks
    the planner nothing and runs the shuffle tier."""
    from triangle_counting_spark.operators import components
    from triangle_counting_spark.plans import planner

    calls, ran = [], []
    monkeypatch.setattr(planner, "choose_iterative_tier", lambda *a, **k: calls.append(1))
    monkeypatch.setattr(
        components, "connected_components_blocked", lambda *a, **k: ran.append(1)
    )
    g = Graph(spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src long, dst long"))
    for kw in ({"run_id": "r"}, {"max_iter": 10}):
        res = g.connected_components(**kw)
        assert {r.v: r.component for r in res.state.collect()} == {
            0: 0, 1: 0, 2: 0, 5: 5, 6: 5
        }
    assert calls == [] and ran == []
