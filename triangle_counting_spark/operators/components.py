"""Connected components — hash-min label exchange.

Each vertex starts labeled with its own id; every iteration each vertex
takes the minimum label among itself and its neighbors; converged when no
label changes. Semantically identical to the reference's BFS-per-unvisited-
vertex component sweep (tc.c:1174-1178: each BFS tree = one component, here
the component representative is the minimum vertex id instead of the BFS
root).

Plan per iteration: one join (symmetrized edges ⋈ labels, shuffle partitioned
on vertex id and reused across iterations) + one min-aggregate. Convergence
in O(diameter) iterations; power-law co-occurrence graphs have tiny
diameters so this beats the extra shuffles of small-star/large-star in
practice (that variant is noted in SURVEY.md §2.11 as the huge-diameter
fallback).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import LoopResult, loop
from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges, symmetrize


def requested_tier(
    tier: str,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    **_,
) -> str:
    """The tier a :func:`connected_components` call hands the planner:
    auto stays on the shuffle tier for a checkpointed call (resume
    fingerprints are tier-specific) or a short one (under 50 rounds)."""
    durable_or_short = checkpoint_dir is not None or run_id is not None or max_iter < 50
    return {"auto": "shuffle"}.get(tier, tier) if durable_or_short else tier


def connected_components(
    edges: DataFrame,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    run_id: str | None = None,
    resume: bool = True,
    use_delta: bool = True,
    tier: str = "auto",
    assume_canonical: bool = False,
) -> LoopResult:
    """LoopResult whose state is ``(v: long, component: long)``;
    component = min vertex id reachable. Exact (north rule).

    ``assume_canonical``: ``edges`` is already canonical (src < dst,
    distinct), as the ``Graph`` facade's table is, so no tier
    canonicalizes it again. Otherwise the shuffle tier canonicalizes it
    once and persists the result for the call.

    The shuffle tier builds its inputs once per call: the symmetrized
    edge table, repartitioned on ``src`` and persisted, and the vertex
    table — the distinct ``src`` of that table (no shuffle), persisted,
    whose one count is the vertex count ``n`` the frontier gate uses.
    Every cache is released before the call returns.

    ``tier``: "shuffle" (the hash-min + pointer-jumping dataflow below),
    "blocked" (:func:`connected_components_blocked`), or "auto":
    :func:`~triangle_counting_spark.plans.planner.plan_tier` picks the
    blocked tier while the graph fits memory. The converged min-id
    labeling is the UNIQUE fixpoint, so the tiers are interchangeable on
    results (the driver gate asserts both against the same oracle); auto
    only engages on a call of at least 50 rounds with no durable
    checkpoint (resume fingerprints are tier-specific).

    ``use_delta``: ALLOW the changed-label frontier join, gated per round on
    measured frontier size (frontier < n/8) — the direction-optimizing-BFS
    discipline (bfs.py ALPHA switch). Rationale, measured at sf0.1
    (scripts/cc_compare.py, min-of-3): hash-min on a small-diameter graph
    has nearly every label improving until the final rounds, so an
    always-on frontier filter only adds a filter + accurate-flag upkeep to
    a join that isn't shrinking (10.1 s always-delta vs 7.6 s full-state);
    the frontier join pays exactly when few labels changed last round.
    Correctness is switch-point independent: joining a SUPERSET of the
    changed frontier is always sound, and the changed flags are exact
    either way. ``use_delta=False`` forces the full-state join (kept for
    measurement).
    """
    from pyspark.storagelevel import StorageLevel

    tier = plan_tier(
        edges,
        requested_tier(tier, max_iter, checkpoint_dir, run_id),
        assume_canonical=assume_canonical,
    )
    if tier == "blocked":
        if run_id is not None:
            raise ValueError(
                "run_id names a shuffle-tier checkpoint; the blocked tier "
                "keeps its checkpoints in checkpoint_dir under the input's "
                "fingerprint"
            )
        return connected_components_blocked(
            edges,
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            resume=resume,
            assume_canonical=assume_canonical,
        )

    cached: list[DataFrame] = []
    if assume_canonical:
        ce = edges.select(SRC, DST)
    else:
        # both sides of the symmetrization read it — dedup once
        ce = canonical_edges(edges).persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(ce)
    # joined every iteration — persist once, pre-partitioned on SRC so only
    # the (much smaller) frontier side shuffles per round (pagerank.py note)
    spark = edges.sparkSession
    _nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sym = (
        symmetrize(ce).repartition(_nshuf, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # every vertex is some symmetrized edge's src, and sym is already
    # hash-partitioned on src: this distinct shuffles nothing
    verts = sym.select(F.col(SRC).alias("v")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cached += [sym, verts]
    state0 = verts.select(
        "v", F.col("v").alias("component"), F.lit(True).alias("changed")
    )

    # driver-side gate state: last round's changed count (set by delta_fn,
    # which the loop calls every iteration anyway — no extra job) and the
    # vertex count. Resume resets it → first resumed round joins full
    # state, which is always correct; only the physical plan differs.
    _gate = {"n": float(verts.count()), "last_changed": None}

    def step(state: DataFrame, _i: int) -> DataFrame:
        # delta iteration: a vertex's label can only improve via a neighbor
        # whose label improved last round — join ONLY the changed frontier,
        # but only once the frontier actually shrank (< n/8): early rounds
        # of hash-min change ~everything and the filter is pure overhead
        small_frontier = (
            _gate["last_changed"] is not None
            and _gate["last_changed"] < _gate["n"] / 8
        )
        frontier = state.where(F.col("changed")) if (use_delta and small_frontier) else state
        nbr_min = (
            sym.join(
                frontier.select(F.col("v").alias(SRC), "component"),
                SRC,
            )
            .groupBy(F.col(DST).alias("v"))
            .agg(F.min("component").alias("nbr_component"))
        )
        combined = (
            state.select("v", F.col("component").alias("component_prev"))
            .join(nbr_min, "v", "left")
            .select(
                "v",
                F.least(
                    "component_prev", F.coalesce("nbr_component", "component_prev")
                ).alias("c1"),
                "component_prev",
            )
        )
        # pointer jumping (label := label[label]): pure hash-min needs
        # O(diameter) rounds — a chain of 10^4 vertices would take 10^4
        # shuffles; one extra |V|-sized self-join per round makes label
        # paths halve each round → O(log diameter) total. Same fixpoint
        # (min reachable id), just reached exponentially faster. The parent
        # lookup uses the FULL state (jumps aren't frontier-local).
        parent = state.select(
            F.col("v").alias("c1"), F.col("component").alias("parent_component")
        )
        return combined.join(parent, "c1", "left").select(
            "v",
            F.least("c1", F.coalesce("parent_component", "c1")).alias("component"),
            "component_prev",
        ).select(
            "v",
            "component",
            "component_prev",
            (F.col("component") < F.col("component_prev")).alias("changed"),
        )

    def delta_fn(_old: DataFrame, new: DataFrame, _i: int) -> float:
        changed = float(new.where(F.col("changed")).count())
        _gate["last_changed"] = changed
        return changed

    result = loop(
        state0,
        step,
        delta_fn,
        tol=0.0,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
        fingerprint=f"cc|hash-min|delta={use_delta}",
        resume=resume,
    )
    for df in cached:
        df.unpersist()
    result.state = result.state.select("v", "component")
    return result


def connected_components_blocked(
    edges: DataFrame,
    max_iter: int = 50,
    n_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = True,
    assume_canonical: bool = False,
) -> LoopResult:
    """CSR-blocked hash-min — the broadcast-tier CC.

    Per round the blocks gather min neighbor labels (np.minimum.reduceat);
    the driver then pointer-jumps the label vector to a fixpoint for FREE
    (label = label[label] is a pure numpy gather on the in-memory vector),
    so full convergence typically takes 2-3 Spark rounds regardless of
    diameter. Same min-id fixpoint as :func:`connected_components`.
    """
    import numpy as np
    import pandas as pd

    from ..plans.blocked import blocked_rounds, build_blocked, fan_out
    from .orientation import canonical_edges as _canon

    spark = edges.sparkSession
    ce = edges.select(SRC, DST) if assume_canonical else _canon(edges)
    pdf = ce.toPandas()
    if n_blocks is None:
        n_blocks = fan_out(spark, 2 * len(pdf))
    g = build_blocked(pdf, n_blocks)
    n = len(g.verts)
    if n == 0:
        empty = spark.createDataFrame([], "v long, component long")
        return LoopResult(state=empty, iterations=0, converged=True, delta=0.0)

    def gather(label, s, d, _w):
        cut = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        return d[cut], np.minimum.reduceat(label[s], cut)

    def update(state, dst, val):
        new = state.copy()
        new[dst] = np.minimum(state[dst], val)
        # driver-side pointer jumping to the local fixpoint
        idx = new.astype(np.int64)
        while True:
            nxt = new[idx]
            if np.array_equal(nxt, new):
                break
            new = nxt
            idx = new.astype(np.int64)
        delta = float((new != state).sum())
        return new, delta

    state, iters, converged, metrics = blocked_rounds(
        spark,
        g,
        np.arange(n, dtype=np.float64),
        gather,
        update,
        tol=0.0,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        fingerprint=f"cc_blocked|n={n}",
        resume=resume,
    )
    out = spark.createDataFrame(
        pd.DataFrame({"v": g.verts, "component": g.verts[state.astype(np.int64)]})
    )
    return LoopResult(
        state=out,
        iterations=iters,
        converged=converged,
        delta=metrics[-1]["delta"] if metrics else 0.0,
        metrics=metrics,
    )


def component_sizes(edges: DataFrame, **kw) -> DataFrame:
    """(component, size) — handy summary + test surface."""
    labels = connected_components(edges, **kw).state
    return labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
