"""Dense-subgraph peeling operators — k-core, k-truss, and coreness.

Classic link-graph reductions built from the engine's own primitives
(degrees / wedge joins), the standard precursors to community mining on
co-occurrence graphs. Both are synchronous peels: drop everything below
the threshold, recompute, repeat until a fixpoint — each round is one or
two joins + an aggregate, so the plan shape is iteration-safe at scale
(same lineage discipline as plans/iterate.py, via eager localCheckpoint).

- k-core  (vertex peel): the maximal subgraph where every vertex has
  degree ≥ k within the subgraph.
- coreness (core decomposition): EVERY vertex's core number in one job —
  the largest k such that the vertex survives the k-core peel — via the
  h-index fixpoint (Lü et al., Nature Comms 2016): c⁰(v)=deg(v),
  cᵗ⁺¹(v)=H({cᵗ(u): u∈N(v)}), monotone non-increasing, fixpoint = core
  number. Unlike sequential min-degree peeling (inherently a priority
  queue, unparallelizable), every h-index round is one join + one
  aggregate over all vertices at once — the right shape for a shuffle
  engine, and SQL-replayable by unrolling rounds.
- k-truss (edge peel):   the maximal subgraph where every edge closes
  ≥ k-2 triangles within the subgraph (support = common neighbors).
  Support uses the ROW-based wedge join (no adjacency arrays — hub-safe,
  AQE-splittable), the same shape as the level strategy.

Both converge in few rounds on power-law graphs (the dense part
stabilizes fast); rounds are bounded and the fixpoint is
partitioning-independent (pure set semantics), so results are exactly
reproducible — and replayable in ANSI SQL by unrolling rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .orientation import DST, SRC, canonical_edges, degrees, symmetrize


def kcore_edges(edges: DataFrame, k: int, max_rounds: int = 100) -> DataFrame:
    """Canonical (src, dst) edges of the k-core.

    Two tiers (round 6): below the memory-derived bcast cutoff the peel
    runs as vectorized numpy rounds over the collected edge list (each
    round = one bincount + two mask gathers, identical simultaneous-
    removal semantics and the same ``max_rounds`` cap as the shuffle
    loop — measured 4.2 s → ~1.5 s at sf0.1, where the shuffle loop pays
    ~6 checkpoint+degree jobs). Beyond the cutoff: the original
    localCheckpointed peel loop below.

    Executes eagerly in both tiers: the canonical edges are
    localCheckpointed and the peel runs before this returns; the
    returned frame reads the checkpointed edges (the numpy tier filters
    them by a broadcast kept-vertex semi-join)."""
    from ..plans.planner import bcast_max_edges

    cur = canonical_edges(edges).localCheckpoint(eager=True)
    m = cur.count()
    spark = edges.sparkSession
    if 0 < m <= bcast_max_edges(spark):
        import numpy as np

        from ..plans.blocked import collect_compact

        cs, cd, verts = collect_compact(cur)
        n = len(verts)
        alive = np.ones(m, dtype=bool)
        keep_v = np.ones(n, dtype=bool)
        n_alive = m
        for _ in range(max_rounds):
            if n_alive == 0:
                break
            deg = np.bincount(cs[alive], minlength=n) + np.bincount(
                cd[alive], minlength=n
            )
            keep_v = deg >= k
            new_alive = alive & keep_v[cs] & keep_v[cd]
            n_new = int(new_alive.sum())
            alive = new_alive
            if n_new == n_alive:
                break
            n_alive = n_new
        if not alive.any():
            return spark.createDataFrame([], "src long, dst long")
        # surviving edges == edges with both endpoints in the final kept
        # vertex set (a dropped vertex never re-qualifies: degrees only
        # shrink), so return a broadcast vertex semi-join over the already
        # checkpointed edge table instead of shipping the edge list back
        # through the driver
        import pandas as _pd

        keep_df = spark.createDataFrame(
            _pd.DataFrame({"v": verts[keep_v]})
        )
        return (
            cur.join(
                F.broadcast(keep_df.select(F.col("v").alias(SRC))),
                SRC,
                "left_semi",
            )
            .join(
                F.broadcast(keep_df.select(F.col("v").alias(DST))),
                DST,
                "left_semi",
            )
            .select(SRC, DST)
        )
    for _ in range(max_rounds):
        if m == 0:
            break
        keep = degrees(cur).where(F.col("degree") >= k).select("v")
        nxt = (
            cur.join(keep.select(F.col("v").alias(SRC)), SRC, "left_semi")
            .join(keep.select(F.col("v").alias(DST)), DST, "left_semi")
            .select(SRC, DST)
            .localCheckpoint(eager=True)
        )
        m2 = nxt.count()
        cur = nxt
        if m2 == m:
            break
        m = m2
    return cur


def _edge_support(cur: DataFrame, of_edges: DataFrame | None = None) -> DataFrame:
    """(src, dst, support) — common-neighbor count per edge within ``cur``,
    via the row-based wedge join (x ∈ N(src), then require {dst, x}).

    ``of_edges`` restricts the OUTPUT to a subset of edges (support is still
    computed against the full ``cur`` graph) — the incremental-peel path:
    wedge enumeration then costs |of_edges|·deg, not |cur|·deg."""
    sym = symmetrize(cur)
    probe = cur if of_edges is None else of_edges
    w = probe.select(SRC, DST).join(sym.select(SRC, F.col(DST).alias("x")), SRC)
    closed = w.join(
        sym.select(F.col(SRC).alias(DST), F.col(DST).alias("x")), [DST, "x"]
    )
    sup = closed.groupBy(SRC, DST).agg(F.count(F.lit(1)).alias("support"))
    return probe.select(SRC, DST).join(sup, [SRC, DST], "left").select(
        SRC, DST, F.coalesce("support", F.lit(0)).alias("support")
    )


def ktruss_edges(edges: DataFrame, k: int, max_rounds: int = 100) -> DataFrame:
    """Canonical (src, dst) edges of the k-truss (every edge in ≥ k-2
    triangles within the subgraph).

    Incremental peel: the full wedge-join support is computed ONCE; each
    subsequent round recomputes support only for survivor edges incident to
    an endpoint of a just-removed edge. Correctness: an edge's support drops
    only when a triangle through it is destroyed, every destroyed triangle
    contains a removed edge, and the other two edges of that triangle each
    share a vertex with it — so edges not touching a removed endpoint keep
    their support exactly. Round cost falls from |E|·deg to |affected|·deg,
    and the affected set shrinks geometrically on real graphs (the dense
    core stabilizes fast)."""
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    thresh = k - 2
    cur = _edge_support(canonical_edges(edges)).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        removed = cur.where(F.col("support") < thresh)
        if removed.limit(1).count() == 0:
            break
        survivors = cur.where(F.col("support") >= thresh).localCheckpoint(eager=True)
        if survivors.limit(1).count() == 0:
            cur = survivors
            break
        touched = (
            removed.select(F.col(SRC).alias("v"))
            .union(removed.select(F.col(DST).alias("v")))
            .distinct()
        )
        is_affected = (
            survivors.join(touched.select(F.col("v").alias(SRC)), SRC, "left_semi")
            .select(SRC, DST)
            .union(
                survivors.join(
                    touched.select(F.col("v").alias(DST)), DST, "left_semi"
                ).select(SRC, DST)
            )
            .distinct()
        )
        unaffected = survivors.join(is_affected, [SRC, DST], "left_anti")
        recomputed = _edge_support(
            survivors.select(SRC, DST), of_edges=is_affected
        )
        cur = unaffected.select(SRC, DST, "support").union(
            recomputed.select(SRC, DST, "support")
        ).localCheckpoint(eager=True)
    return cur.select(SRC, DST)


def coreness(
    edges: DataFrame,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    run_id: str | None = None,
    resume: bool = True,
    assume_canonical: bool = False,
) -> "LoopResult":
    """Core decomposition, shuffle tier: LoopResult whose state is
    ``(v: long, coreness: long)``.

    h-index fixpoint — per round, each vertex's value becomes the h-index
    of its neighbors' values (the largest h such that ≥ h neighbors hold
    value ≥ h). Initialised at degree; monotone non-increasing; fixpoint
    is exactly the core number (v survives the k-core peel iff
    coreness(v) ≥ k — pinned against :func:`kcore_edges` in tests).

    Plan per round: sym ⋈ state (shuffle on vertex id) →
    groupBy(v, value).count → cumulative count over value DESC (window on
    grouped rows, ≤ #distinct neighbor values per vertex, not per edge) →
    h = max(least(value, cum)). Integer-exact end to end, so both tiers
    and the SQL replay agree bit-for-bit. Reference anchor: the peel
    threshold semantics of graph.c:207-234 degree ordering generalised to
    all k at once.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from ..plans.iterate import loop

    _nshuf = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    ce = edges.select(SRC, DST) if assume_canonical else canonical_edges(edges)
    # joined every round — persist pre-partitioned on SRC so each round
    # only shuffles the (much smaller) state table (labelprop.py note)
    sym = symmetrize(ce).repartition(_nshuf, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    state0 = degrees(ce).select(
        "v", F.col("degree").alias("c"), F.col("degree").alias("c_prev")
    )

    w = (
        Window.partitionBy("v")
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        nbr_vals = sym.join(
            state.select(F.col("v").alias(SRC), "c"), SRC
        ).select(F.col(DST).alias("v"), "c")
        grouped = nbr_vals.groupBy("v", "c").agg(F.count(F.lit(1)).alias("k"))
        h = (
            grouped.withColumn("cum", F.sum("k").over(w))
            .groupBy("v")
            .agg(F.max(F.least(F.col("c"), F.col("cum"))).alias("c_new"))
        )
        return state.select("v", F.col("c").alias("c_prev")).join(h, "v").select(
            "v", F.col("c_new").alias("c"), "c_prev"
        )

    def delta_fn(_old: DataFrame, new: DataFrame, _i: int) -> float:
        return float(new.where(F.col("c") != F.col("c_prev")).count())

    result = loop(
        state0,
        step,
        delta_fn,
        tol=0.0,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
        fingerprint="coreness|hindex",
        resume=resume,
    )
    sym.unpersist()
    result.state = result.state.select("v", F.col("c").alias("coreness"))
    return result


def coreness_blocked(
    edges: DataFrame, max_iter: int = 10_000, assume_canonical: bool = False
) -> "LoopResult":
    """Core decomposition, in-memory tier: same h-index fixpoint swept over
    a driver-local CSR with vectorized numpy rounds (sort neighbor values
    per adjacency segment, rank within segment, h = segment-max of
    min(value, rank)). O(m log deg) per round, zero shuffles — the tier
    :func:`~triangle_counting_spark.plans.planner.choose_iterative_tier`
    picks while the graph fits memory, exactly like the CC/PageRank/LP
    blocked tiers (components.py:149). Bit-identical to :func:`coreness`
    (same integer fixpoint)."""
    import numpy as np

    from ..plans.blocked import build_csr, collect_compact, csr_kernels
    from ..plans.iterate import LoopResult

    spark = edges.sparkSession
    ce = edges.select(SRC, DST) if assume_canonical else canonical_edges(edges)
    s, d, verts = collect_compact(ce)
    if len(s) == 0:
        empty = spark.createDataFrame([], "v long, coreness long")
        return LoopResult(state=empty, iterations=0, converged=True, delta=0.0)
    n = len(verts)
    rowptr, tails, _ = build_csr(s, d, n)
    c = (rowptr[1:] - rowptr[:-1]).astype(np.int64)       # c0 = degree
    heads = np.repeat(np.arange(n, dtype=np.int64), c)     # row id per slot
    segment_offsets, _, _ = csr_kernels()
    iters, converged = 0, False
    # Two optimizations over the naive "sort every adjacency list every
    # round", both value-preserving:
    #
    # 1. affected-set sweep — h(v) depends only on NEIGHBOR values, so a
    #    vertex is recomputed only when a neighbor's value moved last
    #    round (the synchronous fixpoint is unchanged: untouched segments
    #    see unchanged input multisets).
    # 2. counting h-index, no sort — neighbor values are first clipped at
    #    the vertex's own current value c_v (safe: the sequence is
    #    monotone non-increasing from deg, so h ≤ c_v, and values above
    #    any threshold k ≤ c_v count the same clipped or not). Then
    #    h = max{k : #(clipped ≥ k) ≥ k} falls out of one bincount over
    #    per-vertex bucket ranges (Σ(c_v+1) ≤ 2m+n buckets) + a segmented
    #    suffix sum — O(Σ deg(affected)) per round, replacing the
    #    O(m log m) lexsort (measured 9.6 s/round at RMAT-20).
    changed_ids = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        if len(changed_ids) == 0:
            converged = True
            break
        # neighbors of changed = the tails over changed vertices' segments
        aff = np.unique(tails[segment_offsets(rowptr, changed_ids)[0]])
        slots, _ = segment_offsets(rowptr, aff)
        dense = np.searchsorted(aff, heads[slots])
        own = c[aff]
        clipped = np.minimum(c[tails[slots]], own[dense])
        sizes = own + 1                       # buckets k = 0..c_v per vertex
        base = np.zeros(len(aff), dtype=np.int64)
        np.cumsum(sizes[:-1], out=base[1:])
        nbins = int(base[-1] + sizes[-1])
        bins = np.bincount(base[dense] + clipped, minlength=nbins)
        # segmented suffix sum: suffix[pos] = #(clipped >= k) for k=pos-base
        rev = np.concatenate([np.cumsum(bins[::-1])[::-1], [0]])
        seg_end = base + sizes
        k_idx = np.arange(nbins, dtype=np.int64) - np.repeat(base, sizes)
        suffix = rev[:-1] - rev[np.repeat(seg_end, sizes)]
        new_aff = np.maximum.reduceat(
            np.where(suffix >= k_idx, k_idx, 0), base
        )
        iters += 1
        moved = new_aff != c[aff]
        c[aff] = new_aff
        changed_ids = aff[moved]
        if len(changed_ids) == 0:
            converged = True
            break

    import pandas as pd

    out = spark.createDataFrame(
        pd.DataFrame({"v": verts, "coreness": c.astype(np.int64)}),
        schema="v long, coreness long",
    )
    return LoopResult(state=out, iterations=iters, converged=converged, delta=0.0)
