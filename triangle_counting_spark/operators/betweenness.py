"""Sampled betweenness centrality (Brandes' algorithm over sampled roots).

Completes the centrality family started in operators/distances.py
(harmonic/closeness): betweenness is the standard "who sits on the
shortest paths" score, and Brandes' dependency accumulation (Brandes
2001) is the canonical O(n·m) exact algorithm — one BFS forward pass per
source s computing shortest-path counts sigma, then one backward sweep by
decreasing BFS level accumulating dependencies

    delta_s(v) = sum_{w : succ(v)} sigma_v / sigma_w * (1 + delta_s(w))

with betweenness(v) = sum_s delta_s(v) (halved for undirected graphs —
each unordered pair is seen from both endpoints). Exact all-sources is
off the table at web scale, so like :func:`~.distances.centrality` this
runs from a deterministic md5-sampled root set (Brandes-Pich estimator:
scale the partial sums by n/k) — with k = n it degenerates to the exact
algorithm, which is how the tests pin it.

Reference anchor: the BFS substrate is bfs.c:7-54's level relaxation; the
backward sweep is new surface the reference does not carry (its bfs is a
triangle-counting helper), included because a link-graph engine without
betweenness sends users elsewhere.

Two tiers, same fixpoint:

- blocked: per-root numpy Brandes over the shared local CSR
  (bfs.local_csr) — k · O(m) with zero shuffles.
- shuffle: simultaneous multi-root passes keyed (root, v). Forward is the
  sampled-distances frontier loop carrying sigma (all shortest-path
  predecessors of a level-L vertex sit at level L-1, so one
  sum-aggregate per round computes sigma exactly). Backward walks levels
  from the deepest down: every dependency contribution to a level-(L-1)
  vertex comes from its level-L successors, so each round emits the
  FINAL delta rows for one level — no read-modify-write state. O(diam)
  rounds each way; state is k·|V| rows, hash-partitioned on (root, v).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges, symmetrize


def betweenness(
    edges: DataFrame,
    n_roots: int = 16,
    tier: str = "auto",
    max_iter: int = 256,
    assume_canonical: bool = False,
) -> DataFrame:
    """(v, betweenness) for every vertex — Brandes-Pich sampled estimate
    (n/k)·Σ_sampled δ_s(v)/2 over undirected shortest paths. Exact when
    n_roots >= |V|. Deterministic: the root sample is md5-ranked."""
    from .distances import sample_roots

    ce = edges.select(SRC, DST) if assume_canonical else canonical_edges(edges)
    tier = plan_tier(ce, tier, assume_canonical=True)
    roots = sample_roots(ce, n_roots, assume_canonical=True)
    verts = (
        ce.select(F.col(SRC).alias("v"))
        .union(ce.select(F.col(DST).alias("v")))
        .distinct()
    )
    n = verts.count()
    k = roots.count()
    spark = ce.sparkSession
    if n == 0 or k == 0:
        return spark.createDataFrame([], "v long, betweenness double")
    scale = float(n) / float(k) / 2.0
    if tier == "blocked":
        acc = _betweenness_blocked(ce, roots)
    else:
        acc = _betweenness_shuffle(ce, roots, max_iter)
    return (
        verts.join(acc, "v", "left")
        .select(
            "v",
            F.round(
                F.coalesce(F.col("_delta") * scale, F.lit(0.0)), 6
            ).alias("betweenness"),
        )
    )


def _betweenness_blocked(ce: DataFrame, roots: DataFrame) -> DataFrame:
    """Per-root numpy Brandes over the shared local CSR; returns the
    (v, _delta) accumulator (unscaled sum of per-root dependencies)."""
    import numpy as np
    import pandas as pd

    from ..plans.blocked import csr_kernels
    from .bfs import local_csr

    spark = ce.sparkSession
    verts, _deg, rowptr, ci = local_csr(ce)
    n = len(verts)
    if n == 0:
        return spark.createDataFrame([], "v long, _delta double")
    root_ids = np.array(sorted(r["v"] for r in roots.collect()), dtype=np.int64)
    segment_offsets, _, _ = csr_kernels()
    bc = np.zeros(n, dtype=np.float64)
    for root in root_ids:
        seed = int(np.searchsorted(verts, root))
        if seed >= n or verts[seed] != root:
            continue
        dist = np.full(n, -1, dtype=np.int64)
        sigma = np.zeros(n, dtype=np.float64)
        dist[seed] = 0
        sigma[seed] = 1.0
        levels = [np.array([seed], dtype=np.int64)]
        frontier = levels[0]
        lvl = 0
        while len(frontier):
            lvl += 1
            offs, lens = segment_offsets(rowptr, frontier)
            if len(offs) == 0:
                break
            srcs = np.repeat(frontier, lens)
            nbrs = ci[offs]
            newv = np.unique(nbrs[dist[nbrs] < 0])
            if not len(newv):
                break
            dist[newv] = lvl
            succ = dist[nbrs] == lvl
            np.add.at(sigma, nbrs[succ], sigma[srcs[succ]])
            levels.append(newv)
            frontier = newv
        delta = np.zeros(n, dtype=np.float64)
        for lvl in range(len(levels) - 1, 0, -1):
            wset = levels[lvl]
            offs, lens = segment_offsets(rowptr, wset)
            if len(offs) == 0:
                continue
            ws = np.repeat(wset, lens)
            vs = ci[offs]
            pred = dist[vs] == lvl - 1
            np.add.at(
                delta,
                vs[pred],
                sigma[vs[pred]] / sigma[ws[pred]] * (1.0 + delta[ws[pred]]),
            )
        delta[seed] = 0.0
        bc += delta
    mask = bc != 0.0
    out = pd.DataFrame({"v": verts[mask], "_delta": bc[mask]})
    if len(out) == 0:
        return spark.createDataFrame([], "v long, _delta double")
    return spark.createDataFrame(out, schema="v long, _delta double")


def _betweenness_shuffle(
    ce: DataFrame, roots: DataFrame, max_iter: int
) -> DataFrame:
    """Simultaneous multi-root Brandes keyed (root, v): forward frontier
    loop carrying sigma, then a per-level backward dependency sweep.
    Returns (v, _delta) — the unscaled dependency accumulator."""
    import warnings

    from pyspark.storagelevel import StorageLevel

    sym = symmetrize(ce).persist(StorageLevel.MEMORY_AND_DISK)
    state = (
        F.broadcast(roots)
        .select(
            F.col("v").alias("root"),
            F.col("v"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = state
    converged = False
    max_lvl = 0
    for lvl in range(1, max_iter + 1):
        cand = (
            sym.join(
                frontier.select(F.col("v").alias(SRC), "root", "sigma"), SRC
            )
            .groupBy("root", F.col(DST).alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = (
            cand.join(state.select("root", "v"), ["root", "v"], "left_anti")
            .select(
                "root", "v", F.lit(lvl).cast("long").alias("dist"), "sigma"
            )
            .localCheckpoint(eager=True)
        )
        if new.limit(1).count() == 0:
            converged = True
            break
        max_lvl = lvl
        state = state.union(new).localCheckpoint(eager=True)
        frontier = new
    if not converged:
        warnings.warn(
            f"betweenness: frontier still active after max_iter={max_iter}"
            " rounds — dependencies beyond that depth are missing",
            RuntimeWarning,
            stacklevel=2,
        )
    spark = ce.sparkSession
    delta = spark.createDataFrame([], "root long, v long, _d double")
    # backward sweep: round L emits the final delta rows for level L-1 —
    # every contribution to a level-(L-1) vertex comes from a level-L
    # successor, so no accumulator is ever revisited
    for lvl in range(max_lvl, 0, -1):
        wrows = (
            state.where(F.col("dist") == lvl)
            .join(delta, ["root", "v"], "left")
            .select(
                "root",
                F.col("v").alias(SRC),
                F.col("sigma").alias("_sw"),
                F.coalesce(F.col("_d"), F.lit(0.0)).alias("_dw"),
            )
        )
        contrib = (
            sym.join(wrows, SRC)
            .select("root", F.col(DST).alias("v"), "_sw", "_dw")
            .join(
                state.where(F.col("dist") == lvl - 1).select(
                    "root", "v", F.col("sigma").alias("_sv")
                ),
                ["root", "v"],
            )
            .groupBy("root", "v")
            .agg(
                F.sum(
                    F.col("_sv") * (F.lit(1.0) + F.col("_dw")) / F.col("_sw")
                ).alias("_d")
            )
            .localCheckpoint(eager=True)
        )
        delta = delta.union(contrib)
    sym.unpersist()
    return (
        delta.where(F.col("v") != F.col("root"))
        .groupBy("v")
        .agg(F.sum("_d").alias("_delta"))
    )
