"""PageRank — iterative sparse gather-scatter over the edge table.

rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/outdeg(u) + dangling_mass/n )

The gather-scatter skeleton is the reference's BFS level-relaxation shape
(bfs.c:7-31: frontier scatter + per-vertex gather) with rank arithmetic in
place of level assignment; the reference itself stops at the skeleton
(SURVEY.md §2.11). Spark plan per iteration: one equi-join of the
symmetrized edges with the rank table (shuffle on vertex id, reused across
iterations since both sides stay hash-partitioned on the same key) + one
hash aggregate; partial aggregation does the reference's per-thread
partial-sum trick (tc_parallel.c:24-27) for free.

Synchronous updates + float64 end-to-end → deterministic to allclose 1e-6
against a numpy power-iteration oracle regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import LoopResult, loop
from .orientation import DST, SRC, canonical_edges, directed_edges, symmetrize


def _vertices(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    if vertices is not None:
        return vertices.select(F.col(vertices.columns[0]).cast("long").alias("v")).distinct()
    return (
        edges.select(F.col(SRC).alias("v"))
        .union(edges.select(F.col(DST).alias("v")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    vertices: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    run_id: str | None = None,
    resume: bool = True,
    directed: bool = False,
    weight_col: str | None = None,
    personalized_for: list[int] | DataFrame | None = None,
    assume_canonical: bool = False,
) -> LoopResult:
    """Returns LoopResult whose state is ``(v: long, rank: double)``,
    Σ rank = 1. Convergence: max |Δrank| <= tol (north-rule allclose 1e-6).

    Each call builds its inputs once: the cleaned edge table, the
    symmetrized edge table (repartitioned on ``src`` and persisted) and
    the vertex ledger ``(v, outdeg)`` (persisted; ``n`` and the dangling
    test read it in one job, the initial state reads it again). Without
    an explicit ``vertices`` table an undirected run takes its vertices
    from the symmetrized table's ``src``, which needs no shuffle. Every
    cache is released before the call returns.

    ``assume_canonical``: the unweighted edge table is already clean —
    canonical (src < dst, distinct) for undirected runs, distinct without
    self-loops for ``directed`` runs — as the ``Graph`` facade's table
    is. It is then read as is; otherwise the call cleans it once and
    persists the result for the call. Weighted runs never deduplicate,
    so the flag does not apply to them.

    ``directed=False`` treats the canonical edge table as undirected
    (each edge contributes both directions), matching the reference's
    symmetric graphs (main.c:342-347).

    ``weight_col``: optional edge-weight column — a vertex distributes its
    rank proportionally to outgoing edge weight (rank·w/Σw) instead of
    uniformly. The edge table must already be deduplicated per (src, dst)
    in weighted mode (canonical_edges would drop the weights).

    ``personalized_for``: optional source-vertex set S — the teleport (and
    dangling) mass lands uniformly on S instead of all vertices
    (personalized PageRank: rank = proximity to S). Initial rank is also
    concentrated on S. Accepts a small list/set (becomes a literal IN) or
    a DataFrame whose first column is the seed ids — the DataFrame form is
    the at-scale path: a 10^5+ seed set as an IN-list bloats the plan
    linearly, while the seed join is one broadcastable equi-join.
    """
    from pyspark.storagelevel import StorageLevel

    w = weight_col
    cached: list[DataFrame] = []
    if w is None:
        if assume_canonical:
            ce = edges.select(SRC, DST)
        else:
            # directed graphs keep their original (src, dst) orientation —
            # canonical_edges would silently re-orient every edge src < dst
            ce = directed_edges(edges) if directed else canonical_edges(edges)
            # read by both sides of the symmetrization (and the vertex
            # union of a directed run) — dedup once, not once per reader
            ce = ce.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(ce)
        # no weight column: every weight would be 1.0, and the two
        # aggregates below count / sum without it (c * 1.0 == c)
        base_edges = symmetrize(ce) if not directed else ce.select(SRC, DST)
    else:
        s, d = F.col(SRC).cast("long"), F.col(DST).cast("long")
        ce = (
            edges.select(
                s.alias(SRC), d.alias(DST), F.col(w).cast("double").alias("_w")
            )
            .where(F.col(SRC) != F.col(DST))
            .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        )
        base_edges = (
            ce
            if directed
            else ce.select(SRC, DST, "_w").union(
                ce.select(
                    F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col("_w")
                )
            )
        )
    # the edge table is read EVERY iteration — persist it once or each
    # iteration re-runs the whole upstream derivation (at 100 TB: re-persist
    # to disk-backed storage or write a bucketed table instead).
    # Pre-partition on SRC so the per-iteration contribution join sees the
    # big (edge) side already hash-partitioned — only the small rank table
    # shuffles each iteration (see step()).
    spark = edges.sparkSession
    _nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    out_edges = base_edges.repartition(_nshuf, SRC).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cached.append(out_edges)
    # out_edges is hash-partitioned on src, so grouping on src shuffles
    # nothing
    out_w = F.count(F.lit(1)).cast("double") if w is None else F.sum("_w")
    outdeg = out_edges.groupBy(F.col(SRC).alias("v")).agg(out_w.alias("outdeg"))
    if vertices is None and not directed:
        # every vertex of a symmetrized edge table is some edge's src
        ledger = outdeg
    else:
        ledger = _vertices(ce, vertices).join(outdeg, "v", "left").select(
            "v", F.coalesce("outdeg", F.lit(0.0)).alias("outdeg")
        )
    ledger = ledger.persist(StorageLevel.MEMORY_AND_DISK)
    cached.append(ledger)
    r = ledger.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("outdeg") == 0.0, 1)).alias("dangling"),
    ).collect()[0]
    n = int(r["n"])
    if n == 0:
        for df in cached:
            df.unpersist()
        empty = spark.createDataFrame([], "v long, rank double")
        return LoopResult(state=empty, iterations=0, converged=True, delta=0.0)
    # undirected edge-derived graphs have no dangling vertices; skip the
    # per-iteration dangling-mass job entirely unless some exist
    has_dangling = r["dangling"] > 0

    # vertex ledger: rank + outdeg (0 for dangling) + teleport probability
    # carried together so each iteration is exactly one join + one agg +
    # one join. tele(v) = 1/n globally, or 1/|S| on the personalization
    # set (0 elsewhere) — teleport AND dangling mass both land on tele.
    base = ledger
    if personalized_for is None:
        base = base.select("v", "outdeg", F.lit(1.0 / n).alias("tele"))
    elif isinstance(personalized_for, DataFrame):
        seeds = personalized_for.select(
            F.col(personalized_for.columns[0]).cast("long").alias("v")
        ).distinct()
        r_seed = seeds.agg(
            F.count(F.lit(1)).alias("n"),
            # order-insensitive content digest — goes into the checkpoint
            # fingerprint so a resume with a DIFFERENT seed set can never
            # silently restore this run's state (the list form already
            # embeds the sorted seeds; the DataFrame form needs this).
            # bit_xor, not sum: xor cannot overflow under ANSI mode
            F.coalesce(F.bit_xor(F.xxhash64("v")), F.lit(0)).alias("digest"),
        ).collect()[0]
        n_seeds = int(r_seed["n"])
        seed_digest = int(r_seed["digest"])
        if n_seeds == 0:
            raise ValueError("personalized_for must be a non-empty vertex set")
        base = base.join(
            F.broadcast(seeds.select("v", F.lit(1.0 / n_seeds).alias("tele"))),
            "v",
            "left",
        ).select("v", "outdeg", F.coalesce("tele", F.lit(0.0)).alias("tele"))
    else:
        srcs = {int(x) for x in personalized_for}
        if not srcs:
            raise ValueError("personalized_for must be a non-empty vertex set")
        tele = F.when(F.col("v").isin(srcs), F.lit(1.0 / len(srcs))).otherwise(
            F.lit(0.0)
        )
        base = base.select("v", "outdeg", tele.alias("tele"))
    state0 = base.select("v", "outdeg", "tele", F.col("tele").alias("rank"))

    def step(state: DataFrame, _i: int) -> DataFrame:
        dangling = 0.0
        if has_dangling:
            dangling = (
                state.where(F.col("outdeg") == 0.0)
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .collect()[0][0]
            )
        contribs = (
            out_edges.join(
                state.where(F.col("outdeg") > 0.0).select(
                    F.col("v").alias(SRC), (F.col("rank") / F.col("outdeg")).alias("c")
                ),
                SRC,
            )
            .groupBy(F.col(DST).alias("v"))
            .agg(
                F.sum(F.col("c") if w is None else F.col("c") * F.col("_w"))
                .alias("gathered")
            )
        )
        if personalized_for is None:
            # driver-side constant, float-identical to the generated SQL
            # oracle's (1-d)/n + d*dangling/n term (last-ulp parity matters
            # at round-6 boundaries)
            base_rank = F.lit((1.0 - damping) / n + damping * dangling / n)
        else:
            base_rank = F.col("tele") * F.lit(1.0 - damping + damping * dangling)
        return (
            state.select("v", "outdeg", "tele", F.col("rank").alias("rank_prev"))
            .join(contribs, "v", "left")
            .select(
                "v",
                "outdeg",
                "tele",
                (
                    base_rank
                    + F.lit(damping) * F.coalesce("gathered", F.lit(0.0))
                ).alias("rank"),
                "rank_prev",
            )
        )

    def delta_fn(_old: DataFrame, new: DataFrame, _i: int) -> float:
        return new.agg(F.max(F.abs(F.col("rank") - F.col("rank_prev")))).collect()[0][0]

    result = loop(
        state0,
        lambda s, i: step(s, i).select("v", "outdeg", "tele", "rank", "rank_prev"),
        delta_fn,
        tol=tol,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
        fingerprint=(
            f"pagerank|d={damping}|tol={tol}|n={n}|directed={directed}"
            f"|weighted={weight_col is not None}"
            f"|ppr={f'df:n={n_seeds}:digest={seed_digest}' if isinstance(personalized_for, DataFrame) else (sorted(personalized_for) if personalized_for else None)}"
        ),
        resume=resume,
    )
    for df in cached:
        df.unpersist()
    result.state = result.state.select("v", "rank")
    return result


def pagerank_fixed(
    edges: DataFrame,
    iterations: int,
    damping: float = 0.85,
    directed: bool = False,
    weight_col: str | None = None,
    personalized_for: list[int] | None = None,
) -> DataFrame:
    """Exactly ``iterations`` synchronous power iterations, no convergence
    test — the oracle-comparable deterministic variant (generated-SQL
    oracles can't express convergence loops)."""
    res = pagerank(
        edges, damping=damping, tol=-1.0, max_iter=iterations,
        directed=directed, weight_col=weight_col,
        personalized_for=personalized_for,
    )
    return res.state


def pagerank_blocked(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    n_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = True,
    assume_canonical: bool = False,
    weight_col: str | None = None,
):
    """CSR-blocked PageRank — the broadcast-tier implementation
    (north rule: "iterative sparse gather-scatter over CSR-blocked edge
    partitions"). Per iteration: broadcast the rank vector, each dst-block
    gathers Σ rank(u)/outdeg(u) via np.add.reduceat, driver applies damping
    + dangling mass and checks max |Δ| — no shuffle anywhere.

    Use when the per-vertex state vector fits in memory (~10^8 vertices);
    :func:`pagerank` is the beyond-memory shuffle tier with identical
    semantics (cross-checked in tests).

    Returns a LoopResult with state (v, rank).
    """
    import numpy as np

    from ..plans.blocked import blocked_rounds, build_blocked, fan_out

    import pandas as pd

    spark = edges.sparkSession
    if weight_col is not None:
        s, d = F.col(SRC).cast("long"), F.col(DST).cast("long")
        ce = (
            edges.select(
                s.alias(SRC), d.alias(DST),
                F.col(weight_col).cast("double").alias("weight"),
            )
            .where(F.col(SRC) != F.col(DST))
            .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
        )
    else:
        ce = edges.select(SRC, DST) if assume_canonical else canonical_edges(edges)
    pdf = ce.toPandas()
    if n_blocks is None:
        n_blocks = fan_out(spark, 2 * len(pdf))
    # the gather weight (1/outdeg or w/Σw) lives on the edges, so the
    # broadcast state is the rank vector itself (checkpoint/resume stays
    # trivially correct)
    g = build_blocked(
        pdf, n_blocks,
        edge_weight="weighted" if weight_col is not None else "inv_outdeg",
    )
    n = len(g.verts)
    if n == 0:
        empty = spark.createDataFrame([], "v long, rank double")
        return LoopResult(state=empty, iterations=0, converged=True, delta=0.0)
    dangling_mask = g.out_deg == 0.0

    def gather(rank, s, d, w):
        cut = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        return d[cut], np.add.reduceat(rank[s] * w, cut)

    def update(state, dst, val):
        gathered = np.zeros(n)
        gathered[dst] = val
        dangling = state[dangling_mask].sum()
        new = (1.0 - damping) / n + damping * (gathered + dangling / n)
        delta = np.abs(new - state).max()
        return new, delta

    rank, iters, converged, metrics = blocked_rounds(
        spark,
        g,
        np.full(n, 1.0 / n),
        gather,
        update,
        tol=tol,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        fingerprint=(f"pagerank_blocked|d={damping}|tol={tol}|n={n}"f"|weighted={weight_col is not None}"),
        resume=resume,
    )
    out = spark.createDataFrame(pd.DataFrame({"v": g.verts, "rank": rank}))
    return LoopResult(
        state=out,
        iterations=iters,
        converged=converged,
        delta=metrics[-1]["delta"] if metrics else 0.0,
        metrics=metrics,
    )
