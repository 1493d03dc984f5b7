"""Densest subgraph — max average-degree-density subgraph, the canonical
"find the hot community/spam farm" primitive on link graphs.

Density here is the standard ρ(S) = |E(S)| / |S| (half the average
degree of the induced subgraph).

Two tiers, like the rest of the iterative surface:

- ``shuffle`` — Bahmani-Kumar-Vassilvitskii (VLDB 2012) (1+ε)-peeling:
  per round, remove EVERY vertex of degree ≤ 2(1+ε)·ρ(current), keep
  the round whose induced subgraph had the best density. O(log n / ε)
  rounds of one degree-aggregate + two semi-joins each — the
  MapReduce-native form; guarantees ρ(S*) ≥ ρ_opt / (2(1+ε)).
- ``blocked`` — exact Charikar greedy: repeatedly remove the single
  minimum-degree vertex (driver CSR + bucket queue, O(m+n)); the
  classic 2-approximation with the best constants, and on the fixtures
  tested it recovers planted dense cores exactly. Used below the
  memory-derived cutoff.

Both return the VERTEX SET of the best prefix plus its density, so the
caller can induce the subgraph with two semi-joins.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges
from .stats import degrees


def densest_subgraph(
    edges: DataFrame,
    epsilon: float = 0.1,
    tier: str = "auto",
    max_rounds: int = 200,
) -> DataFrame:
    """``(v: long, density: double)`` — vertices of the densest-subgraph
    approximation plus its density (same scalar on every row)."""
    if epsilon <= 0:
        raise ValueError("epsilon must be > 0")
    ce = canonical_edges(edges)
    if plan_tier(ce, tier, assume_canonical=True) == "blocked":
        return _densest_blocked(ce)
    return _densest_shuffle(ce, epsilon, max_rounds)


def _densest_shuffle(
    ce: DataFrame, epsilon: float, max_rounds: int
) -> DataFrame:
    spark = ce.sparkSession
    cur = ce.localCheckpoint(eager=True)
    m = cur.count()
    if m == 0:
        return spark.createDataFrame([], "v long, density double")
    best_df: DataFrame | None = None
    best_rho = -1.0
    threshold_factor = 2.0 * (1.0 + epsilon)
    for _ in range(max_rounds):
        deg = degrees(cur).localCheckpoint(eager=True)
        n = deg.count()
        if n == 0:
            break
        rho = m / n
        if rho > best_rho:
            best_rho = rho
            best_df = deg.select("v")
        # remove ALL vertices at or below the density threshold — the
        # whole point of the BKV form: O(log n) rounds, not O(n) peels
        keep = deg.where(F.col("degree") > threshold_factor * rho).select("v")
        nxt = (
            cur.join(keep.select(F.col("v").alias(SRC)), SRC, "left_semi")
            .join(keep.select(F.col("v").alias(DST)), DST, "left_semi")
            .select(SRC, DST)
            .localCheckpoint(eager=True)
        )
        m2 = nxt.count()
        if m2 == m:
            # threshold removed nothing → every vertex has degree >
            # 2(1+ε)ρ, impossible unless empty; defensive stop
            break
        cur = nxt
        m = m2
        if m == 0:
            break
    else:
        # exhausted max_rounds with edges left: the documented 2(1+ε)
        # guarantee only holds once peeling runs to empty (BKV needs
        # ~log_{1+ε}(n) rounds — 217 at ε=0.1, n=1e9), so a silent
        # best-so-far return could degrade arbitrarily. Exhausted bounds
        # must raise, not truncate (same discipline as mis.py max_iter).
        raise RuntimeError(
            f"densest_subgraph: peeling did not reach the empty graph "
            f"after max_rounds={max_rounds} (m={m} edges remain) — the "
            f"2(1+eps) bound needs ~log_(1+eps)(n) rounds; raise "
            f"max_rounds (or epsilon)"
        )
    assert best_df is not None
    return best_df.select("v", F.lit(float(best_rho)).alias("density"))


def _densest_blocked(ce: DataFrame) -> DataFrame:
    """Exact Charikar greedy peel on a driver CSR with a lazy-deletion
    min-heap keyed by current degree — O(m log n)."""
    spark = ce.sparkSession
    pdf = ce.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], "v long, density double")
    src = pdf[SRC].to_numpy(dtype=np.int64)
    dst = pdf[DST].to_numpy(dtype=np.int64)
    verts = np.unique(np.concatenate([src, dst]))
    n = len(verts)
    si = np.searchsorted(verts, src)
    di = np.searchsorted(verts, dst)
    # CSR over the symmetrized adjacency
    ends = np.concatenate([di, si])
    starts = np.concatenate([si, di])
    order = np.argsort(starts, kind="stable")
    adj = ends[order]
    deg = np.bincount(starts, minlength=n)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=offs[1:])
    m = len(si)
    alive = np.ones(n, dtype=bool)
    cur_deg = deg.astype(np.int64).copy()
    import heapq

    heap = [(int(d), int(i)) for i, d in enumerate(cur_deg)]
    heapq.heapify(heap)
    removal = np.empty(n, dtype=np.int64)
    best_rho, best_k = -1.0, 0
    alive_n, alive_m = n, m
    k = 0
    while alive_n > 0:
        rho = alive_m / alive_n
        if rho > best_rho:
            best_rho, best_k = rho, k
        while True:
            d, u = heapq.heappop(heap)
            if alive[u] and d == cur_deg[u]:
                break
        alive[u] = False
        removal[k] = u
        k += 1
        alive_n -= 1
        for j in range(offs[u], offs[u + 1]):
            w = adj[j]
            if alive[w]:
                alive_m -= 1
                cur_deg[w] -= 1
                heapq.heappush(heap, (int(cur_deg[w]), int(w)))
    # best prefix = everything NOT removed before step best_k
    removed_before = removal[:best_k]
    mask = np.ones(n, dtype=bool)
    mask[removed_before] = False
    import pandas as pd

    out = pd.DataFrame({"v": verts[mask]})
    out["density"] = float(best_rho)
    return spark.createDataFrame(out)


def induced_edges(edges: DataFrame, vertex_set: DataFrame) -> DataFrame:
    """Canonical edges induced by ``vertex_set`` (first column = vertex id)
    — two broadcastable semi-joins, the companion of densest_subgraph."""
    ce = canonical_edges(edges)
    vs = vertex_set.select(
        F.col(vertex_set.columns[0]).cast("long").alias("v")
    ).distinct()
    return (
        ce.join(vs.select(F.col("v").alias(SRC)), SRC, "left_semi")
        .join(vs.select(F.col("v").alias(DST)), DST, "left_semi")
        .select(SRC, DST)
    )
