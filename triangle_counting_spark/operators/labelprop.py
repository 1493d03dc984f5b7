"""Label propagation — synchronous community assignment.

Every vertex starts with its own id as label; each iteration it adopts the
most frequent label among its neighbors, ties broken by MINIMUM label
(deterministic — the reference breaks every comparison tie by id the same
way, graph.c:187-205, so runs reproduce across partitionings). Synchronous
updates only: asynchronous LP is partition-order-dependent and can never
satisfy the reproducibility bar.

Plan per iteration: edges ⋈ labels (shuffle on vertex id) →
groupBy(v, label).count → per-vertex argmax via max_by over a packed
(count, -label) struct — one aggregate, no window sort. Unweighted round
one needs neither: every label is still its vertex's own id, so on
distinct edges every vote counts 1 and the winner is the smallest
neighbour id, one min aggregate whose shuffle is vertex-sized.

Convergence: #vertices whose label changed == 0, or max_iter (LP may
oscillate on bipartite structures; a fixed cap is standard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import LoopResult, loop
from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges, symmetrize


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    run_id: str | None = None,
    resume: bool = True,
    weight_col: str | None = None,
    assume_canonical: bool = False,
) -> LoopResult:
    """LoopResult whose state is ``(v: long, label: long)``.

    ``weight_col``: optional edge weight — neighbor votes are weighted
    sums instead of counts (ties still break by min label, so runs stay
    deterministic; integer-valued weights keep the tie set exact across
    engines).

    ``assume_canonical``: the unweighted ``edges`` are already canonical
    (src < dst, distinct), as the ``Graph`` facade's table is, and are
    read as is; otherwise the call canonicalizes them once and persists
    the result for the call. Weighted runs never deduplicate, so the flag
    does not apply to them.

    Each call builds the symmetrized edge table once (repartitioned on
    ``src``, persisted, released before the call returns); the initial
    state is its distinct ``src``, which needs no shuffle."""
    from pyspark.storagelevel import StorageLevel

    _nshuf = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    cached: list[DataFrame] = []
    if weight_col is None:
        if assume_canonical:
            ce = edges.select(SRC, DST)
        else:
            # both sides of the symmetrization read it — dedup once
            ce = canonical_edges(edges).persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(ce)
        sym_w = symmetrize(ce).select(SRC, DST)
    else:
        s, d = F.col(SRC).cast("long"), F.col(DST).cast("long")
        ce = (
            edges.select(
                s.alias(SRC), d.alias(DST),
                F.col(weight_col).cast("double").alias("_w"),
            )
            .where(F.col(SRC) != F.col(DST))
            .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        )
        sym_w = ce.select(SRC, DST, "_w").union(
            ce.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col("_w"))
        )
    # joined every iteration — persist once, pre-partitioned on SRC so the
    # per-iteration vote join only shuffles the label table (pagerank.py note)
    sym = sym_w.repartition(_nshuf, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    cached.append(sym)
    # every vertex is some symmetrized edge's src, and sym is already
    # hash-partitioned on src: this distinct shuffles nothing
    state0 = (
        sym.select(F.col(SRC).alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"), F.col("v").alias("label_prev"))
    )
    vote_agg = (
        F.count(F.lit(1)).alias("cnt") if weight_col is None
        else F.sum("_w").alias("cnt")
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        if i == 1 and weight_col is None:
            # only a fresh run reaches i == 1 (a resumed one starts later),
            # so the state is state0: label == v, every vote counts 1
            return sym.groupBy(F.col(DST).alias("v")).agg(
                F.min(SRC).alias("label")
            ).select("v", "label", F.col("v").alias("label_prev"))
        votes = (
            sym.join(state.select(F.col("v").alias(SRC), "label"), SRC)
            .groupBy(F.col(DST).alias("v"), "label")
            .agg(vote_agg)
        )
        # argmax by (cnt desc, label asc): max_by on struct(cnt, -label)
        winner = votes.groupBy("v").agg(
            F.max_by("label", F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias(
                "new_label"
            )
        )
        return (
            state.select("v", F.col("label").alias("label_prev"))
            .join(winner, "v", "left")
            .select(
                "v",
                F.coalesce("new_label", "label_prev").alias("label"),
                "label_prev",
            )
        )

    def delta_fn(_old: DataFrame, new: DataFrame, _i: int) -> float:
        return float(new.where(F.col("label") != F.col("label_prev")).count())

    result = loop(
        state0,
        step,
        delta_fn,
        tol=0.0,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
        fingerprint=f"lp|sync-minlabel|weighted={weight_col is not None}",
        resume=resume,
    )
    for df in cached:
        df.unpersist()
    result.state = result.state.select("v", "label")
    return result


def label_propagation_blocked(
    edges: DataFrame,
    max_iter: int = 20,
    n_blocks: int | None = None,
    assume_canonical: bool = False,
) -> LoopResult:
    """CSR-blocked synchronous label propagation — the broadcast tier.

    Per round each dst-block takes the per-vertex neighbor-label vote
    argmax with :func:`lp_vote`: same (count desc, label asc) tie-break as
    the shuffle tier, so the two implementations agree round for round
    (tested).
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
        empty = spark.createDataFrame([], "v long, label long")
        return LoopResult(state=empty, iterations=0, converged=True, delta=0.0)

    def update(state, dst, val):
        new = state.copy()
        new[dst] = val.astype(np.int64)
        return new, int((new != state).sum())

    state, iters, converged, metrics = blocked_rounds(
        spark, g, np.arange(n, dtype=np.int64), lp_vote(), update, tol=0.0,
        max_iter=max_iter,
    )
    out_df = spark.createDataFrame(
        pd.DataFrame({"v": g.verts, "label": g.verts[state]})
    )
    return LoopResult(
        state=out_df,
        iterations=iters,
        converged=converged,
        delta=metrics[-1]["delta"] if metrics else 0.0,
        metrics=metrics,
    )


def lp_vote():
    """``vote(labels, s, d, _w) -> (dsts, new_labels)``: the winning
    label of each destination in ``d`` among the ``labels[s]`` of its
    edges, by (count desc, label asc); ``dsts`` int64, ``new_labels``
    float64. Labels and destinations must be compact ids (below 2^31).
    Returned as a closure, so a task ships it by value (the pickle rule
    in plans/blocked.py).

    One composite key per vote, ``(dst << 31) | label``, sorted in place:
    equal keys are one (dst, label) group, and groups come in (dst, label)
    order. Run-length counts of the keys are the vote counts. Each group
    then scores ``(count << 31) | (2^31 - 1 - label)``, the shuffle tier's
    ``struct(cnt, -label)`` packed into one int64, and
    ``np.maximum.reduceat`` over each dst's groups picks its winner. Every
    array after the sort is group-sized, and at most three live at once.
    """
    import numpy as np

    low = (1 << 31) - 1

    def vote(lbl_of, s, d, _w):
        key = d.astype(np.int64)
        key <<= 31
        key |= lbl_of[s]
        key.sort()
        m = len(key)
        new_run = np.empty(m, dtype=bool)
        new_run[0] = True
        np.not_equal(key[1:], key[:-1], out=new_run[1:])
        starts = np.flatnonzero(new_run)
        del new_run
        run = key[starts]
        del key
        score = np.diff(starts, append=m)
        del starts
        score <<= 31
        rd = run >> 31
        run &= low
        np.subtract(low, run, out=run)
        score |= run
        del run
        first = np.flatnonzero(np.r_[True, rd[1:] != rd[:-1]])
        best = np.maximum.reduceat(score, first)
        return rd[first], (low - (best & low)).astype(np.float64)

    return vote


def label_propagation_fixed(
    edges: DataFrame, iterations: int, weight_col: str | None = None,
    tier: str = "auto", assume_canonical: bool = False,
) -> DataFrame:
    """Exactly ``iterations`` synchronous rounds (oracle-comparable).

    ``tier``: "auto" routes the unweighted case through
    :func:`~triangle_counting_spark.plans.planner.plan_tier` to
    :func:`label_propagation_blocked` while the graph fits memory — both
    tiers run the identical synchronous round with the identical (count
    desc, label asc) tie-break and stop on the same delta == 0 test, so
    they agree round for round (driver-gated against one oracle). "shuffle"
    forces the dataflow loop; weighted votes always take it (the blocked
    tier is unweighted).

    ``assume_canonical``: ``edges`` are already canonical, so neither the
    planner nor either tier canonicalizes them again (see
    :func:`label_propagation`)."""
    tier = plan_tier(
        edges,
        {"auto": "shuffle"}.get(tier, tier) if weight_col is not None else tier,
        assume_canonical=assume_canonical,
    )
    if tier == "blocked" and weight_col is None:
        return label_propagation_blocked(
            edges, max_iter=iterations, assume_canonical=assume_canonical
        ).state
    res = label_propagation(
        edges, max_iter=iterations, weight_col=weight_col,
        assume_canonical=assume_canonical,
    )
    # loop stops early only on convergence, which is also deterministic
    return res.state


def modularity(
    edges: DataFrame, assignments: DataFrame, label_col: str = "label"
) -> DataFrame:
    """One row ``(modularity)`` — Newman's Q for a community assignment:
    Q = Σ_c [ e_c/m − (d_c/2m)² ] with e_c = intra-community edge count
    and d_c = community degree sum. The quality score for the engine's
    own label-propagation output (or any (v, label) table). Three
    broadcastable joins + one aggregate; round 6 for oracle parity.
    """
    from .orientation import canonical_edges, degrees

    # ce feeds three plan subtrees (inside join, degrees, m) — materialize
    # once instead of re-running the distinct per subtree (the same
    # rationale as orient_by_degree's checkpointed degree table)
    ce = canonical_edges(edges).localCheckpoint(eager=True)
    m = ce.count()
    if m == 0:
        return ce.sparkSession.createDataFrame([(0.0,)], "modularity double")
    lab = assignments.select(
        F.col("v").cast("long").alias("v"), F.col(label_col).alias("_c")
    )
    inside = (
        ce.join(lab.select(F.col("v").alias(SRC), F.col("_c").alias("_ca")), SRC)
        .join(lab.select(F.col("v").alias(DST), F.col("_c").alias("_cb")), DST)
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("_c"))
        .agg(F.count(F.lit(1)).cast("double").alias("_ec"))
    )
    degsum = (
        degrees(ce)
        .join(lab, "v")
        .groupBy("_c")
        .agg(F.sum("degree").cast("double").alias("_dc"))
    )
    per_c = degsum.join(inside, "_c", "left").select(
        (
            F.coalesce("_ec", F.lit(0.0)) / F.lit(float(m))
            - F.pow(F.col("_dc") / F.lit(2.0 * m), F.lit(2.0))
        ).alias("_q")
    )
    return per_c.agg(F.round(F.sum("_q"), 6).alias("modularity"))
