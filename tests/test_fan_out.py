"""Python-task fan-out of the broadcast-CSR kernels and the blocked tier.

Every Python task pays a fixed start-up cost, so the number of tasks a
call starts is asserted through Spark's own job records (statusTracker and
the status store's per-stage RDD graphs), never through timing.
"""

from __future__ import annotations

import time

import numpy as np
import pytest

from tests.conftest import TINY, make_edges
from triangle_counting_spark.plans import blocked
from triangle_counting_spark.plans.blocked import EDGES_PER_BLOCK, fan_out


def _seq(x):
    return [x.apply(i) for i in range(x.size())]


def _stages(sc, group: str, timeout_s: float = 10.0) -> list[tuple[int, bool]]:
    """(tasks, runs Python) for every stage the jobs of ``group`` ran,
    once the listener has recorded the end of each job."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(j is not None and j.status == "SUCCEEDED" for j in jobs):
            break
        assert time.monotonic() < deadline, f"jobs of {group} did not finish"
        time.sleep(0.02)
    store = sc._jsc.sc().statusStore()
    out = []
    for sid in sorted({s for j in jobs for s in j.stageIds}):
        names = []
        todo = [store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            names.append(c.name())
            names.extend(n.name() for n in _seq(c.childNodes()))
            todo.extend(_seq(c.childClusters()))
        python = any("Python" in n or "InPandas" in n or "InArrow" in n for n in names)
        out.append((tracker.getStageInfo(sid).numTasks, python))
    return out


def _in_group(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _canonical_range_edges(spark, n: int):
    """K_n as canonical (src < dst) edges from a pure-JVM source, so the
    input itself starts no Python task."""
    from pyspark.sql import functions as F

    v = spark.range(0, n, 1, numPartitions=1)
    return (
        v.select(F.col("id").alias("src"))
        .crossJoin(v.select(F.col("id").alias("dst")))
        .where("src < dst")
    )


def test_fan_out_rule(spark):
    wave = spark.sparkContext.defaultParallelism
    assert fan_out(spark) == wave  # kernels: one full wave
    assert fan_out(spark, 0) == 1
    assert fan_out(spark, 10) == 1
    assert fan_out(spark, EDGES_PER_BLOCK) == 1
    assert fan_out(spark, EDGES_PER_BLOCK + 1) == min(2, wave)
    assert fan_out(spark, 1000 * EDGES_PER_BLOCK) == wave  # capped at a wave


def test_bcast_triangle_count_one_wave(spark):
    """The kernel stage of a bcast triangle_count starts at most one wave
    of Python tasks, and it is the call's only Python stage."""
    from triangle_counting_spark.operators.triangles import triangle_count

    sc = spark.sparkContext
    edges = _canonical_range_edges(spark, 12)
    got = _in_group(
        sc, "fan-out-bcast",
        lambda: triangle_count(edges, "bcast", assume_canonical=True).collect(),
    )
    assert got[0]["triangles"] == 220  # C(12, 3)
    py = [tasks for tasks, python in _stages(sc, "fan-out-bcast") if python]
    assert py == [fan_out(spark)], py
    assert py[0] <= sc.defaultParallelism


def test_scalar_triangle_result_starts_no_python_job(spark):
    """Collecting a scalar triangle result runs one pure-JVM task: no
    Python-RDD job for a locally built one-row frame."""
    from triangle_counting_spark.operators.triangles import (
        clustering_coefficient,
        triangle_count,
    )

    sc = spark.sparkContext
    edges = _canonical_range_edges(spark, 6)
    for name, df in [
        ("bcast", triangle_count(edges, "bcast", assume_canonical=True)),
        ("sql", triangle_count(edges, "sql", assume_canonical=True)),
        ("clustering", clustering_coefficient(edges)),
    ]:
        group = f"scalar-{name}"
        rows = _in_group(sc, group, df.collect)
        assert len(rows) == 1
        stages = _stages(sc, group)
        assert stages and not any(python for _, python in stages), (name, stages)
        assert sum(tasks for tasks, _ in stages) == len(stages), (name, stages)


def test_python_stage_detector_sees_python(spark):
    """Positive control for the detector above: a locally built frame and
    a mapInPandas are both seen as Python stages."""
    sc = spark.sparkContext
    _in_group(sc, "detector-local", spark.createDataFrame([(1,)], "x long").collect)
    assert any(python for _, python in _stages(sc, "detector-local"))
    df = spark.range(0, 2, 1, numPartitions=2).mapInPandas(lambda it: it, "id long")
    _in_group(sc, "detector-pandas", df.collect)
    assert [t for t, python in _stages(sc, "detector-pandas") if python] == [2]


@pytest.mark.parametrize("k", [1, 7])
@pytest.mark.parametrize(
    "name,want", [("triangle", 1), ("K4", 4), ("two_triangles", 2), ("K5", 10)]
)
def test_bcast_count_exact_when_slices_outnumber_vertices(spark, monkeypatch, name, want, k):
    """Strided slices past the last vertex contribute nothing and no
    vertex is counted twice, whatever the slice count. (FIXTURES.md's
    ``isolated`` graph is two_triangles plus a degree-0 vertex, which an
    edge list cannot carry; its count is two_triangles'.)"""
    from triangle_counting_spark.operators.triangles import BroadcastCSRTriangles

    monkeypatch.setattr(blocked, "fan_out", lambda spark, edges=None: k)
    counter = BroadcastCSRTriangles(make_edges(spark, TINY[name][0]))
    assert counter.count() == want


def _random_edges(spark, n=120, m=600, seed=5):
    rng = np.random.default_rng(seed)
    s = rng.integers(0, n, size=m)
    d = rng.integers(0, n, size=m)
    keep = s != d
    pairs = {(int(min(a, b)), int(max(a, b))) for a, b in zip(s[keep], d[keep])}
    # a separate component and a hub, so labels and ranks are not uniform
    pairs |= {(1000, 1001), (1001, 1002)} | {(0, v) for v in range(2, 40)}
    return make_edges(spark, sorted(pairs))


def test_blocked_outputs_identical_at_one_block_and_a_wave(spark):
    """Blocks split edges by destination, so each vertex's gather covers
    the same edges in the same order at any block count: ranks, CC labels
    and LP labels are bit-identical at 1 block and at one wave."""
    from triangle_counting_spark.operators.components import connected_components_blocked
    from triangle_counting_spark.operators.labelprop import label_propagation_blocked
    from triangle_counting_spark.operators.pagerank import pagerank_blocked

    e = _random_edges(spark)
    wave = spark.sparkContext.defaultParallelism
    assert wave > 1

    def run(n_blocks):
        pr = pagerank_blocked(e, tol=-1.0, max_iter=6, n_blocks=n_blocks).state
        cc = connected_components_blocked(e, n_blocks=n_blocks).state
        lp = label_propagation_blocked(e, max_iter=4, n_blocks=n_blocks).state
        return (
            pr.toPandas().sort_values("v").to_numpy(),
            cc.toPandas().sort_values("v").to_numpy(),
            lp.toPandas().sort_values("v").to_numpy(),
        )

    for one, many in zip(run(1), run(wave)):
        assert one.dtype == many.dtype
        assert np.array_equal(one, many)


def test_blocked_default_is_one_block_below_edges_per_block(spark, monkeypatch):
    """A blocked call on a graph under EDGES_PER_BLOCK is one block, and
    its rounds run in the driver: no Python stage and no shipped array.
    The input is a pure-JVM K_12, so any Python stage in the call's jobs
    would be a round's."""
    from triangle_counting_spark.operators.components import connected_components_blocked
    from triangle_counting_spark.operators.labelprop import label_propagation_blocked
    from triangle_counting_spark.operators.pagerank import pagerank_blocked

    sc = spark.sparkContext
    shipped = []
    real_ship = blocked._ship_arrays

    def counting_ship(*a, **kw):
        shipped.append(a[1] if len(a) > 1 else kw["arrays"])
        return real_ship(*a, **kw)

    monkeypatch.setattr(blocked, "_ship_arrays", counting_ship)
    e = _canonical_range_edges(spark, 12)
    calls = {
        "pagerank": lambda: pagerank_blocked(e, tol=-1.0, max_iter=3, assume_canonical=True),
        "components": lambda: connected_components_blocked(e, assume_canonical=True),
        "label_propagation": lambda: label_propagation_blocked(
            e, max_iter=3, assume_canonical=True
        ),
    }
    for name, call in calls.items():
        group = f"one-block-{name}"
        res = _in_group(sc, group, call)
        assert res.iterations >= 2, (name, res.iterations)
        stages = _stages(sc, group)
        assert stages, name  # the edge collect
        assert not any(python for _, python in stages), (name, stages)
    assert shipped == []
    # control: two blocks ship the arrays once and run a two-task Python
    # stage per round
    _in_group(
        sc, "two-blocks-lp",
        lambda: label_propagation_blocked(e, max_iter=2, n_blocks=2, assume_canonical=True),
    )
    assert [t for t, python in _stages(sc, "two-blocks-lp") if python] == [2, 2]
    assert len(shipped) == 1


def test_shipped_array_dirs_are_removed(spark):
    """Every broadcast-CSR kernel and blocked loop removes the
    ``tcs_blocked_*`` dir its arrays were shipped from once its jobs have
    read them (on a local master; a cluster keeps them for the session)."""
    import glob
    import os
    import tempfile

    from triangle_counting_spark.operators.components import connected_components_blocked
    from triangle_counting_spark.operators.labelprop import label_propagation_blocked
    from triangle_counting_spark.operators.pagerank import pagerank_blocked
    from triangle_counting_spark.operators.triangles import (
        four_clique_count,
        four_cycle_count,
        triangle_count,
        triangle_count_delta,
    )

    def dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "tcs_blocked_*")))

    e = _random_edges(spark)
    before = dirs()
    assert triangle_count(e, "bcast").collect()[0]["triangles"] > 0
    assert triangle_count(e, "level").collect()[0]["triangles"] > 0
    pagerank_blocked(e, max_iter=3).state.collect()
    connected_components_blocked(e).state.collect()
    label_propagation_blocked(e, max_iter=2).state.collect()
    label_propagation_blocked(e, max_iter=0).state.collect()
    four_cycle_count(e).collect()
    four_clique_count(e).collect()
    triangle_count_delta(e, make_edges(spark, [(5, 7), (7, 9)])).collect()
    assert dirs() - before == set()
