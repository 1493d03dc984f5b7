"""The shuffle tier builds its inputs once per call.

PageRank, connected components and label propagation read a canonical
edge table as is when told it is canonical (``assume_canonical``), as the
``Graph`` facade's persisted table is, and otherwise canonicalize once;
each call symmetrizes once and takes its vertex table from the
symmetrized table without a shuffle. The Graph counts its edges once for
all its auto-planned calls. Asserted through Spark's status store, never
through timing.
"""

from __future__ import annotations

import time

import numpy as np
import pytest

from tests.conftest import TINY, make_edges
from triangle_counting_spark.graph import Graph
from triangle_counting_spark.operators.components import connected_components
from triangle_counting_spark.operators.labelprop import label_propagation_fixed
from triangle_counting_spark.operators.pagerank import pagerank
from triangle_counting_spark.plans import planner


def _raw(pairs):
    """The same graph as a raw edge list: every edge in both orientations,
    one edge twice and a self-loop on a vertex the graph already has."""
    a, b = pairs[0]
    return pairs + [(d, s) for s, d in pairs] + [(a, b), (a, a)]


def _in_group(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _seq(x):
    return [x.apply(i) for i in range(x.size())]


def _shuffle_stages(sc, group: str, timeout_s: float = 10.0) -> list[tuple[int, bool]]:
    """(shuffle records written, reads a Union) for every stage the jobs of
    ``group`` ran and that wrote shuffle output, once the listener has
    recorded the end of each job (a job ends after its stages).

    The status store keeps a bounded number of stages and drops those
    without a completion time, the skipped ones, first; the stages this
    call completed are the newest it holds. A stage id it no longer has
    is therefore a skipped one, and is passed over."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]
        if all(j.completionTime().isDefined() for j in jobs):
            break
        assert time.monotonic() < deadline, f"jobs of {group} did not finish"
        time.sleep(0.02)
    stage_ids = sorted(
        {int(x) for j in jobs for x in str(j.stageIds().mkString(",")).split(",") if x}
    )
    out = []
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        if sd.status().toString() != "COMPLETE" or sd.shuffleWriteRecords() == 0:
            continue
        names, todo = [], [store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            names.append(c.name())
            names.extend(n.name() for n in _seq(c.childNodes()))
            todo.extend(_seq(c.childClusters()))
        out.append((int(sd.shuffleWriteRecords()), any(n.startswith("Union") for n in names)))
    return out


# ------------------------------------------------------------ parity


@pytest.mark.parametrize("name", ["two_triangles", "bowtie"])
def test_pagerank_assume_canonical_matches_raw(spark, name):
    pairs = TINY[name][0]
    got = pagerank(make_edges(spark, pairs), tol=1e-9, assume_canonical=True)
    want = pagerank(make_edges(spark, _raw(pairs)), tol=1e-9)
    g = dict(got.state.collect())
    w = dict(want.state.collect())
    assert sorted(g) == sorted(w) == sorted({v for e in pairs for v in e})
    np.testing.assert_allclose(
        [g[v] for v in sorted(g)], [w[v] for v in sorted(w)], rtol=0, atol=1e-12
    )
    assert got.iterations == want.iterations


@pytest.mark.parametrize("name", ["two_triangles", "bowtie"])
def test_components_assume_canonical_matches_raw(spark, name):
    pairs = TINY[name][0]
    got = connected_components(
        make_edges(spark, pairs), tier="shuffle", assume_canonical=True
    ).state.collect()
    want = connected_components(make_edges(spark, _raw(pairs)), tier="shuffle").state.collect()
    assert dict(got) == dict(want)
    assert len({c for _, c in got}) == TINY[name][2]


@pytest.mark.parametrize("name", ["two_triangles", "bowtie"])
def test_label_propagation_assume_canonical_matches_raw(spark, name):
    pairs = TINY[name][0]
    got = label_propagation_fixed(
        make_edges(spark, pairs), 3, tier="shuffle", assume_canonical=True
    ).collect()
    want = label_propagation_fixed(make_edges(spark, _raw(pairs)), 3, tier="shuffle").collect()
    assert dict(got) == dict(want)


# ------------------------------------------------------------ built once


def _clique_graph(spark, n: int) -> Graph:
    """K_n from a pure-JVM source as a persisted, materialized Graph."""
    from pyspark.sql import functions as F

    v = spark.range(0, n, 1, numPartitions=2)
    e = (
        v.select(F.col("id").alias("src"))
        .crossJoin(v.select(F.col("id").alias("dst")))
        .where("src < dst")
    )
    g = Graph(e).persist()
    g.edges.count()
    return g


@pytest.mark.parametrize(
    "query,edge_sized",
    [
        ("pagerank", 1),
        ("components", 1),
        # round one of label propagation is a min aggregate over the
        # symmetrized edges, whose shuffle is vertex-sized
        ("label_propagation", 1),
    ],
)
def test_shuffle_tier_call_symmetrizes_once(spark, query, edge_sized):
    """On a persisted canonical Graph (K_60: m = 1,770 edges, 60 vertices)
    a shuffle-tier call writes the symmetrized repartition as its only
    stage that reads a union, and no stage re-derives the canonical
    table: every other shuffle is vertex-sized (at most 60 rows per map
    task). Before, each reader of the re-canonicalized table ran its
    edge-sized distinct again, and every vertex table was a shuffled
    distinct over the union of both endpoint columns."""
    sc = spark.sparkContext
    g = _clique_graph(spark, 60)
    m = 60 * 59 // 2
    try:
        calls = {
            "pagerank": lambda: g.pagerank(tier="shuffle", tol=1e-6).state.collect(),
            "components": lambda: g.connected_components(tier="shuffle").state.collect(),
            "label_propagation": lambda: g.label_propagation(tier="shuffle").collect(),
        }
        group = f"built-once-{query}"
        rows = _in_group(sc, group, calls[query])
        assert len(rows) == 60
        stages = _shuffle_stages(sc, group)
        big = [(r, union) for r, union in stages if r >= m]
        assert len(big) == edge_sized, stages
        assert [r for r, union in stages if union] == [2 * m], stages
    finally:
        g.unpersist()


def test_raw_input_canonicalized_once(spark):
    """A PageRank call on a raw edge list (both orientations of K_30)
    runs its canonicalizing distinct once, the only edge-sized stage that
    reads no union, and symmetrizes once."""
    sc = spark.sparkContext
    from pyspark.sql import functions as F

    v = spark.range(0, 30, 1, numPartitions=2)
    raw = v.select(F.col("id").alias("src")).crossJoin(
        v.select(F.col("id").alias("dst"))
    ).where("src != dst")
    m = 30 * 29 // 2
    _in_group(sc, "built-once-raw", lambda: pagerank(raw, tol=1e-6).state.collect())
    stages = _shuffle_stages(sc, "built-once-raw")
    assert [r for r, union in stages if union] == [2 * m], stages
    assert len([r for r, union in stages if r >= m and not union]) == 1, stages


def test_graph_counts_edges_once(spark, monkeypatch):
    """Four auto calls on one Graph ask the planner four times, and only
    the first runs a count job: the Graph keeps the edge count."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "graph-count-once"
    planner_jobs = []

    def counting(real):
        def wrapped(*a, **k):
            before = len(tracker.getJobIdsForGroup(group))
            out = real(*a, **k)
            planner_jobs.append(len(tracker.getJobIdsForGroup(group)) - before)
            return out

        return wrapped

    for name in ("choose_triangle_strategy", "choose_iterative_tier"):
        monkeypatch.setattr(planner, name, counting(getattr(planner, name)))
    g = Graph(make_edges(spark, TINY["bowtie"][0])).persist()
    try:
        g.edges.count()
        _in_group(sc, "graph-count-baseline", g.edges.count)
        one_count = len(tracker.getJobIdsForGroup("graph-count-baseline"))

        def four_auto_calls():
            assert g.triangle_count() == 2
            g.pagerank(tol=1e-6).state.collect()
            g.connected_components().state.collect()
            g.label_propagation().collect()

        _in_group(sc, group, four_auto_calls)
        assert planner_jobs == [one_count, 0, 0, 0]
    finally:
        g.unpersist()
