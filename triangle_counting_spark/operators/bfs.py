"""BFS levels, horizontal-edge classification, and the k-metric.

The reference's BFS family (bfs.c, 13 variants) reduces on Spark to ONE
level-synchronous pattern: each BFS level is one join of the frontier with
the edge table (SURVEY.md §2.10). We implement it as lexicographic
(component, level) min-propagation, which simultaneously reproduces the
reference's component sweep (tc.c:1174-1178: BFS from every unvisited
vertex in ascending id order → each component's root is its min id) and
the per-vertex level array (tc.c:1163-1168).

Direction-optimizing BFS (bfs.c:314-377, ALPHA=14/BETA=24): the Spark
analog of the top-down/bottom-up switch is broadcast-vs-shuffle on the
frontier join. We make it EXPLICIT rather than trusting AQE's size
estimates: each iteration joins only the CHANGED frontier (not the full
visited set — the frontier shrinks as BFS converges), and when the
previous round's frontier count drops below n/ALPHA (and an absolute cap
that bounds executor memory) the frontier side gets an F.broadcast hint,
so the edge table is never re-shuffled for a tiny frontier
(:func:`frontier_neighbors`, plan-asserted in tests).

The k-metric (fraction of edges whose endpoints share a BFS level,
tc_bader_compute_k tc.c:1120-1159) is the statistic the reference's hybrid
planner (tc.c:1844-1911, cutover k > 0.7) uses; our auto planner consumes
the same number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import LoopResult, loop
from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges, symmetrize


BFS_ALPHA = 14  # reference's direction-switch ratio (bfs.c:299-300)
BFS_BCAST_CAP = 4_000_000  # absolute frontier-row cap for the broadcast hint


def frontier_neighbors(
    sym: DataFrame, frontier: DataFrame, broadcast_hint: bool
) -> DataFrame:
    """(v, cand) — min (root, level+1) candidate per neighbor of the
    frontier. With ``broadcast_hint`` the frontier side is broadcast (the
    direction-optimizing switch: the big edge table is scanned in place,
    never re-shuffled for a small frontier)."""
    f = frontier.select(F.col("v").alias(SRC), "root", "level")
    if broadcast_hint:
        f = F.broadcast(f)
    return (
        sym.join(f, SRC)
        .groupBy(F.col(DST).alias("v"))
        .agg(
            F.min(F.struct(F.col("root"), (F.col("level") + 1).alias("level"))).alias(
                "cand"
            )
        )
    )


def local_csr(ce: DataFrame):
    """Collect canonical edges into a symmetric driver CSR
    ``(verts, deg, rowptr, ci)`` — the shared build for every driver-side
    sweep (BFS here, sampled distances and betweenness)."""
    from ..plans.blocked import build_csr, collect_compact

    s, d, verts = collect_compact(ce.select(SRC, DST))
    rowptr, ci, _ = build_csr(s, d, len(verts))
    return verts, rowptr[1:] - rowptr[:-1], rowptr, ci


def csr_expand_unvisited(rowptr, ci, frontier, visited_mask):
    """One frontier expansion over the local CSR: the unique neighbors of
    ``frontier`` whose ``visited_mask`` entry is False. Pure gather — the
    shared inner step of the blocked BFS/distance sweeps."""
    import numpy as np

    from ..plans.blocked import csr_kernels

    segment_offsets, _, _ = csr_kernels()
    offs, _ = segment_offsets(rowptr, frontier)
    nbrs = np.unique(ci[offs])
    return nbrs[~visited_mask[nbrs]]


def bfs_levels_blocked(
    edges: DataFrame,
    roots: list[int] | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Broadcast-tier BFS — the same ``(v, root, level)`` fixpoint as the
    shuffle tier, computed over an in-memory CSR (the tier the blocked
    PageRank/CC/label-propagation substrate already established; BFS was
    the one iterative operator without it, and at fits-in-memory scale the
    shuffle loop's per-iteration job floor dominates its runtime — measured
    22.7 s of the 27 s "level" strategy at sf0.1).

    ``roots=None``: vectorized — components first (reduceat min-gather +
    pointer jumping, no per-component Python), then ONE multi-source
    frontier sweep seeded with every component's min vertex. Explicit
    ``roots``: sequential ascending per-root sweeps, because the shuffle
    tier's lexicographic (root, level) min means the SMALLEST reaching
    root claims a vertex even when another root is nearer — simultaneous
    expansion would hand ties to the nearest root instead.
    """
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    ce = edges.select(SRC, DST) if assume_canonical else canonical_edges(edges)
    schema = "v long, root long, level long"
    verts, deg, rowptr, ci = local_csr(ce)
    if len(verts) == 0:
        return spark.createDataFrame([], schema)
    n = len(verts)
    level = np.full(n, -1, dtype=np.int64)
    root = np.full(n, -1, dtype=np.int64)

    def expand(frontier: "np.ndarray") -> "np.ndarray":
        return csr_expand_unvisited(rowptr, ci, frontier, level >= 0)

    if roots is None:
        # components: min-label gather per round + pointer jumping — the
        # blocked-CC recipe, converges in O(log diameter) rounds
        label = np.arange(n, dtype=np.int64)
        safe = np.minimum(rowptr[:-1], len(ci) - 1)
        while True:
            gathered = np.minimum.reduceat(label[ci], safe)
            new = np.minimum(label, np.where(deg > 0, gathered, label))
            while True:
                nxt = new[new]
                if np.array_equal(nxt, new):
                    break
                new = nxt
            if np.array_equal(new, label):
                break
            label = new
        seeds = np.unique(label)  # each component's min vertex code
        level[seeds] = 0
        root[:] = label  # root of v = its component's min vertex
        frontier = seeds
        lvl = 0
        while len(frontier):
            lvl += 1
            new = expand(frontier)
            if not len(new):
                break
            level[new] = lvl
            frontier = new
    else:
        rset = np.array(sorted({int(r) for r in roots}), dtype=np.int64)
        pos = np.searchsorted(verts, rset)
        valid = pos < n
        pos, rs = pos[valid], rset[valid]
        pos = pos[verts[pos] == rs]  # roots not present in the graph drop out
        for seed in pos:  # ascending → first claim = lexicographic min root
            if level[seed] >= 0:
                continue
            level[seed] = 0
            root[seed] = seed
            frontier = np.array([seed], dtype=np.int64)
            lvl = 0
            while len(frontier):
                lvl += 1
                new = expand(frontier)
                if not len(new):
                    break
                level[new] = lvl
                root[new] = seed
                frontier = new
    mask = level >= 0
    out = pd.DataFrame(
        {
            "v": verts[mask],
            "root": verts[root[mask]],
            "level": level[mask],
        }
    )
    return spark.createDataFrame(out, schema=schema)


def bfs_levels(
    edges: DataFrame,
    roots: list[int] | None = None,
    max_iter: int = 10_000,
    tier: str = "auto",
) -> DataFrame:
    """(v, root, level) — BFS level of every vertex.

    ``roots=None``: multi-source BFS from each component's minimum vertex id
    (the reference's full sweep, tc.c:1174-1178). With explicit roots,
    unreachable vertices are absent from the result.

    ``tier``: "auto" routes fits-in-memory graphs (the iterative-tier
    memory statistic, planner.choose_iterative_tier) to the blocked CSR
    sweep and everything else to the shuffle loop below; "shuffle" /
    "blocked" force a tier. Both produce the identical fixpoint.

    Shuffle tier: delta iteration — only vertices improved in the previous
    round join the edge table (the frontier); the previous round's frontier
    count decides the broadcast hint (count < n/ALPHA and < cap), mirroring
    the reference's direction-optimizing switch (bfs.c:314-377).
    """
    from pyspark.storagelevel import StorageLevel

    ce = canonical_edges(edges)
    if plan_tier(ce, tier, assume_canonical=True) == "blocked":
        return bfs_levels_blocked(ce, roots=roots, assume_canonical=True)
    # joined every level — persist once (see pagerank.py note)
    sym = symmetrize(ce).persist(StorageLevel.MEMORY_AND_DISK)
    verts = (
        ce.select(F.col(SRC).alias("v"))
        .union(ce.select(F.col(DST).alias("v")))
        .distinct()
    )
    n = verts.count()
    if roots is None:
        # every vertex is a candidate root for its own component
        state0 = verts.select(
            "v",
            F.col("v").alias("root"),
            F.lit(0).cast("long").alias("level"),
            F.lit(True).alias("changed"),
        )
    else:
        rs = {int(r) for r in roots}
        state0 = verts.select(
            "v",
            F.when(F.col("v").isin(rs), F.col("v")).alias("root"),
            F.when(F.col("v").isin(rs), F.lit(0)).cast("long").alias("level"),
            F.col("v").isin(rs).alias("changed"),
        )
    # delta_fn's count of the new frontier feeds the NEXT step's broadcast
    # decision (the loop barrier guarantees it ran before step i+1 plans)
    frontier_count: dict[str, float | None] = {"last": None}

    def step(state: DataFrame, _i: int) -> DataFrame:
        fc = frontier_count["last"]
        hint = fc is not None and fc <= min(n // BFS_ALPHA, BFS_BCAST_CAP)
        nbr = frontier_neighbors(sym, state.where(F.col("changed")), hint)
        return (
            state.select(
                "v", F.struct(F.col("root"), F.col("level")).alias("cur")
            )
            .join(nbr, "v", "left")
            .select(
                "v",
                F.when(
                    F.col("cand").isNotNull()
                    & (F.col("cur.root").isNull() | (F.col("cand") < F.col("cur"))),
                    F.col("cand"),
                )
                .otherwise(F.col("cur"))
                .alias("best"),
                (
                    F.col("cand").isNotNull()
                    & (F.col("cur.root").isNull() | (F.col("cand") < F.col("cur")))
                ).alias("changed"),
            )
            .select(
                "v",
                F.col("best.root").alias("root"),
                F.col("best.level").alias("level"),
                "changed",
            )
        )

    def delta_fn(_old: DataFrame, new: DataFrame, _i: int) -> float:
        changed = new.where(F.col("changed")).count()
        frontier_count["last"] = float(changed)
        return float(changed)

    res: LoopResult = loop(
        state0,
        step,
        delta_fn,
        tol=0.0,
        max_iter=max_iter,
        fingerprint="bfs",
        resume=False,
    )
    sym.unpersist()
    out = res.state.select("v", "root", "level")
    return out.where(F.col("root").isNotNull()) if roots is not None else out


def classify_edges(edges: DataFrame, levels: DataFrame | None = None) -> DataFrame:
    """(src, dst, level_src, level_dst, horizontal) — the reference's
    horizontal-edge flag (bfs_mark_horizontal_edges, bfs.c:202-225) as a
    column, not a second graph."""
    ce = canonical_edges(edges)
    lv = levels if levels is not None else bfs_levels(ce)
    l_src = lv.select(F.col("v").alias(SRC), F.col("level").alias("level_src"))
    l_dst = lv.select(F.col("v").alias(DST), F.col("level").alias("level_dst"))
    return (
        ce.join(l_src, SRC)
        .join(l_dst, DST)
        .select(
            SRC,
            DST,
            "level_src",
            "level_dst",
            (F.col("level_src") == F.col("level_dst")).alias("horizontal"),
        )
    )


def k_metric(edges: DataFrame, levels: DataFrame | None = None) -> DataFrame:
    """1-row (k: double): fraction of undirected edges that are horizontal
    (tc_bader_compute_k, tc.c:1120-1159). Drives the hybrid planner."""
    cls = classify_edges(edges, levels)
    return cls.agg(
        (
            F.coalesce(F.sum(F.col("horizontal").cast("long")), F.lit(0))
            / F.greatest(F.count(F.lit(1)), F.lit(1))
        ).alias("k")
    )
