"""Louvain community detection — modularity-optimizing, two tiers.

The classic sequential Louvain visits vertices one at a time, which no
shuffle dataflow can reproduce. Both tiers here implement the SAME
deterministic synchronous variant, so a python reference can replay it
exactly. Bit-identity between blocked and shuffle holds for
integer-valued edge weights (including the unweighted default, weight
1), where every float sum is exact; for fractional weights the two
tiers sum k_{v,D}/Σ_tot in different orders (Spark hash-agg vs pandas
groupby), so near-tie move decisions MAY diverge — same algorithm,
allclose modularity, but not guaranteed identical assignments:

Per local-moving round r on the current (possibly contracted) graph:
  - every vertex v scores each neighboring community D (plus its own):
        score(v→D) = k_{v,D} − γ·k_v·Σ_tot(D∖v)/(2m)
    with k_{v,D} = Σ of edge weight from v into D (self-loops excluded),
    k_v = weighted degree (self-loops count twice), Σ_tot(D) = Σ k over
    D's members, and Σ_tot(D∖v) subtracting k_v only when v ∈ D;
  - v adopts argmax-score community (ties → smallest community id) iff
    strictly better than staying, AND v's id parity matches the round
    parity (the standard synchronous-Louvain guard against two-vertex
    swap oscillation — each round only half the vertices may move);
  - rounds stop when two consecutive rounds (both parities) move nobody,
    or at ``max_rounds``. Synchronous local moving can enter short limit
    cycles inside dense cliques (documented for parallel Louvain since
    Staudt & Meyerhenke 2016); the round cap ends the level mid-cycle and
    CONTRACTION then breaks the symmetry — the split halves of a clique
    become two heavily-connected supernodes that merge at the next level.
    Quality converges the same way; only the cap keeps the cycle from
    burning rounds.

Then the graph contracts (communities → vertices, intra-community weight
→ self-loops) and the next level runs, until no merge happens. Newman
modularity Q increases level over level (asserted in tests via
:func:`~triangle_counting_spark.operators.labelprop.modularity`).

Scale notes: each shuffle-tier round is two equi-joins + two hash
aggregates over the (src, dst, w) table — the label-propagation plan
shape with a weighted argmax — and contraction is one groupBy. The
level-0 graph is the big one; every contraction shrinks the table by the
community count, so later levels are near-free. The blocked tier runs
the identical rounds as vectorized pandas groupbys over driver arrays,
gated behind the memory-derived cutoff via ``tier="auto"``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges


def louvain(
    edges: DataFrame,
    tier: str = "auto",
    weight_col: str | None = None,
    max_levels: int = 10,
    max_rounds: int = 8,
    resolution: float = 1.0,
) -> DataFrame:
    """``(v: long, community: long)`` — Louvain communities of the
    undirected (optionally weighted) graph. Community ids are vertex ids
    propagated through the contraction levels (deterministic)."""
    tier = plan_tier(edges, tier)
    if weight_col is None:
        ce = canonical_edges(edges).select(SRC, DST, F.lit(1.0).alias("w"))
    else:
        s, d = F.col(SRC).cast("long"), F.col(DST).cast("long")
        ce = (
            edges.select(
                F.least(s, d).alias(SRC),
                F.greatest(s, d).alias(DST),
                F.col(weight_col).cast("double").alias("w"),
            )
            .where(F.col(SRC) != F.col(DST))
            .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
            .groupBy(SRC, DST)
            .agg(F.sum("w").alias("w"))
        )
    if tier == "blocked":
        return _louvain_blocked(ce, max_levels, max_rounds, resolution)
    return _louvain_shuffle(ce, max_levels, max_rounds, resolution)


# --------------------------------------------------------------------------
# shuffle tier


def _louvain_shuffle(
    ce: DataFrame, max_levels: int, max_rounds: int, gamma: float
) -> DataFrame:
    spark = ce.sparkSession
    if ce.limit(1).count() == 0:
        return spark.createDataFrame([], "v long, community long")

    # level state: symmetric non-self edges (src, dst, w), self-loop
    # weights (v, s), and the orig-vertex → current-level-vertex map
    edg = (
        ce.select(SRC, DST, "w")
        .union(ce.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w"))
        .localCheckpoint(eager=True)
    )
    selfw = (
        edg.select(F.col(SRC).alias("v"))
        .distinct()
        .select("v", F.lit(0.0).alias("s"))
        .localCheckpoint(eager=True)
    )
    assign = selfw.select("v", F.col("v").alias("community"))
    two_m = float(
        edg.agg(F.sum("w")).collect()[0][0]
    )  # symmetric sum = 2m for a self-loop-free level-0 graph
    two_m += 2.0 * float(selfw.agg(F.coalesce(F.sum("s"), F.lit(0.0))).collect()[0][0])

    for _level in range(max_levels):
        # vertex ledger: degree k (self-loops twice) and community = self
        deg = (
            edg.groupBy(F.col(SRC).alias("v"))
            .agg(F.sum("w").alias("_kw"))
            .join(selfw, "v", "full")
            .select(
                "v",
                (
                    F.coalesce("_kw", F.lit(0.0))
                    + 2.0 * F.coalesce("s", F.lit(0.0))
                ).alias("k"),
            )
        )
        vert = deg.select("v", "k", F.col("v").alias("c")).localCheckpoint(
            eager=True
        )
        n_vert = vert.count()

        quiet = 0
        for r in range(max_rounds):
            vert, moved = _shuffle_round(vert, edg, two_m, gamma, r)
            quiet = quiet + 1 if moved == 0 else 0
            if quiet >= 2:
                break

        n_comm = vert.select("c").distinct().count()
        # map original vertices through this level's assignment
        assign = (
            assign.join(
                vert.select(F.col("v").alias("community"), F.col("c").alias("_nc")),
                "community",
            )
            .select("v", F.col("_nc").alias("community"))
            .localCheckpoint(eager=True)
        )
        if n_comm == n_vert:
            break
        # contract: communities become vertices
        ec = (
            edg.join(vert.select(F.col("v").alias(SRC), F.col("c").alias("_cs")), SRC)
            .join(vert.select(F.col("v").alias(DST), F.col("c").alias("_cd")), DST)
            .select("_cs", "_cd", "w")
        )
        new_selfw = (
            vert.join(selfw, "v")
            .groupBy(F.col("c").alias("v"))
            .agg(F.sum("s").alias("_s0"))
            .join(
                # intra-community weight: symmetric list counts each pair
                # twice → /2
                ec.where(F.col("_cs") == F.col("_cd"))
                .groupBy(F.col("_cs").alias("v"))
                .agg((F.sum("w") / 2.0).alias("_si")),
                "v",
                "full",
            )
            .select(
                "v",
                (
                    F.coalesce("_s0", F.lit(0.0)) + F.coalesce("_si", F.lit(0.0))
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        new_edg = (
            ec.where(F.col("_cs") != F.col("_cd"))
            .groupBy(F.col("_cs").alias(SRC), F.col("_cd").alias(DST))
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        edg, selfw = new_edg, new_selfw

    return assign.select("v", "community")


def _shuffle_round(
    vert: DataFrame, edg: DataFrame, two_m: float, gamma: float, r: int
) -> tuple[DataFrame, int]:
    """One synchronous local-moving round; returns (new vert, #moved)."""
    # mass of each vertex's edges into each neighboring community
    nbr = (
        edg.join(
            vert.select(F.col("v").alias(DST), F.col("c").alias("d_c")), DST
        )
        .groupBy(F.col(SRC).alias("v"), "d_c")
        .agg(F.sum("w").alias("kvd"))
    )
    # ensure the OWN community is always a candidate (kvd may be 0)
    own = vert.select("v", F.col("c").alias("d_c"), F.lit(0.0).alias("kvd"))
    cand = (
        nbr.unionByName(own)
        .groupBy("v", "d_c")
        .agg(F.max("kvd").alias("kvd"))
    )
    sig = vert.groupBy(F.col("c").alias("d_c")).agg(F.sum("k").alias("sig"))
    scored = (
        cand.join(vert.select("v", "k", F.col("c").alias("own_c")), "v")
        .join(sig, "d_c")
        .select(
            "v",
            "d_c",
            "own_c",
            (
                F.col("kvd")
                - F.lit(gamma)
                * F.col("k")
                * (
                    F.col("sig")
                    - F.when(F.col("d_c") == F.col("own_c"), F.col("k")).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.lit(two_m)
            ).alias("score"),
        )
    )
    best = scored.groupBy("v").agg(
        F.max(F.struct(F.col("score"), (-F.col("d_c")).alias("_nd"))).alias("_b"),
        F.max(F.when(F.col("d_c") == F.col("own_c"), F.col("score"))).alias(
            "own_score"
        ),
        F.first("own_c").alias("own_c"),
    )
    parity = F.pmod(F.col("v"), F.lit(2)) == F.lit(r % 2)
    decided = best.select(
        "v",
        F.when(
            parity & (F.col("_b.score") > F.col("own_score")),
            -F.col("_b._nd"),
        )
        .otherwise(F.col("own_c"))
        .cast("long")
        .alias("new_c"),
        F.col("own_c"),
    )
    # checkpoint FIRST (one execution of the round plan), then count the
    # moves from the materialized result — counting before checkpointing
    # would run the whole round twice
    new_vert = (
        vert.join(decided.select("v", "new_c", F.col("own_c").alias("_pc")), "v")
        .select("v", "k", F.col("new_c").alias("c"), "_pc")
        .localCheckpoint(eager=True)
    )
    moved = new_vert.where(F.col("c") != F.col("_pc")).count()
    return new_vert.select("v", "k", "c"), moved


# --------------------------------------------------------------------------
# blocked tier — identical rounds over driver arrays


def _louvain_blocked(
    ce: DataFrame, max_levels: int, max_rounds: int, gamma: float
) -> DataFrame:
    import pandas as pd

    spark = ce.sparkSession
    pdf = ce.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], "v long, community long")
    src = pdf[SRC].to_numpy(dtype=np.int64)
    dst = pdf[DST].to_numpy(dtype=np.int64)
    w = pdf["w"].to_numpy(dtype=np.float64)
    # symmetric non-self list; vertex ids stay the ORIGINAL ids at every
    # level so community ids match the shuffle tier exactly
    es = np.concatenate([src, dst])
    ed = np.concatenate([dst, src])
    ew = np.concatenate([w, w])
    verts = np.unique(es)
    selfw_arr = np.zeros(len(verts), dtype=np.float64)
    orig_verts = verts.copy()
    assign_arr = orig_verts.astype(np.int64).copy()
    two_m = float(ew.sum())

    for _level in range(max_levels):
        n = len(verts)
        # verts is sorted-unique, so searchsorted IS the id->index map —
        # no per-element Python loop (same pattern as mis.py's blocked tier)
        si = np.searchsorted(verts, es)
        di = np.searchsorted(verts, ed)
        k = np.bincount(si, weights=ew, minlength=n) + 2.0 * selfw_arr
        comm = verts.astype(np.int64).copy()  # community = own id
        comm_idx = np.arange(n, dtype=np.int64)  # index of comm[v] in verts

        quiet = 0
        for r in range(max_rounds):
            # k_{v,D} sums via ONE packed-key sort + segment reduce
            # (pandas groupby here was the measured blocked-tier cost:
            # ~1.2 s/round at sf0.1 vs ~0.2 s for the argsort pipeline;
            # community ids map to verts indices, so (v << 32 | dc_idx)
            # is a collision-free int64 key — n < 2^31 is guaranteed by
            # the memory-derived tier cutoff). Identical aggregation
            # semantics: same addends per (v, D) group; float order only
            # differs for fractional weights, where the tiers are already
            # documented as near-tie-divergent.
            key = (si << 32) | comm_idx[di]
            if len(key):
                order = np.argsort(key)
                ks = key[order]
                seg = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
                kvd_key = ks[seg]
                kvd_w = np.add.reduceat(ew[order], seg)
            else:
                kvd_key = np.empty(0, dtype=np.int64)
                kvd_w = np.empty(0)
            # own-community candidate rows (weight 0), merged by MAX like
            # the previous concat+groupby().max() — but via a sorted-merge
            # insert (|V| searchsorted into the sorted kvd keys) instead of
            # re-sorting the whole candidate array
            own_key = (np.arange(n, dtype=np.int64) << 32) | comm_idx
            pos = np.searchsorted(kvd_key, own_key)
            safe = np.minimum(pos, max(len(kvd_key) - 1, 0))
            present = (
                (kvd_key[safe] == own_key) if len(kvd_key) else np.zeros(n, bool)
            )
            hit = pos[present]
            kvd_w[hit] = np.maximum(kvd_w[hit], 0.0)
            cand_key = np.insert(kvd_key, pos[~present], own_key[~present])
            cand_w = np.insert(kvd_w, pos[~present], 0.0)
            vi = cand_key >> 32
            dci = cand_key & 0xFFFFFFFF
            dc = verts[dci]
            sig_arr = np.bincount(comm_idx, weights=k, minlength=n)
            own_c = comm[vi]
            is_own = dc == own_c
            kv = k[vi]
            score = cand_w - gamma * kv * (
                sig_arr[dci] - np.where(is_own, kv, 0.0)
            ) / two_m
            # argmax score per v, tie → smallest community id: cand rows
            # are already sorted by (v, dc asc), so the winner is the
            # FIRST row reaching the per-segment max — segment reduce +
            # min-index pick, no lexsort (the measured round hot spot:
            # 5.4 s of 11 s at sf0.1 went to the 3-key mergesort)
            v_start = np.flatnonzero(np.r_[True, vi[1:] != vi[:-1]])
            seg_len = np.diff(np.r_[v_start, len(vi)])
            seg_max = np.maximum.reduceat(score, v_start)
            is_max = score == np.repeat(seg_max, seg_len)
            allidx = np.arange(len(vi), dtype=np.int64)
            top = np.minimum.reduceat(
                np.where(is_max, allidx, len(vi)), v_start
            )  # one row per v, v ascending (all v present)
            best_c = dc[top]
            best_s = score[top]
            own_s = np.empty(n)
            own_s[vi[is_own]] = score[is_own]
            parity = (verts % 2) == (r % 2)
            move = parity & (best_s > own_s) & (best_c != comm)
            nmoved = int(move.sum())
            comm = np.where(move, best_c, comm)
            comm_idx = np.where(move, dci[top], comm_idx)
            quiet = quiet + 1 if nmoved == 0 else 0
            if quiet >= 2:
                break

        # compose assignment through this level: every assigned community id
        # is a vertex id of THIS level, so map it through comm vectorized
        assign_arr = comm[np.searchsorted(verts, assign_arr)]
        new_verts = np.unique(comm)
        if len(new_verts) == n:
            break
        # contract
        cs = comm[si]
        cd = comm[di]
        intra = cs == cd
        # carry old self-loop weight to each community, plus half the
        # intra-community edge weight (symmetric list double-counts it)
        ci = np.searchsorted(new_verts, comm)
        new_selfw = np.bincount(ci, weights=selfw_arr, minlength=len(new_verts))
        if intra.any():
            csi = np.searchsorted(new_verts, cs[intra])
            new_selfw += np.bincount(
                csi, weights=ew[intra] / 2.0, minlength=len(new_verts)
            )
        keep = ~intra
        # contracted-edge aggregation: same packed-key sort + segment
        # reduce as the round loop (community ids map into verts indices)
        if keep.any():
            kidx = (comm_idx[si][keep] << 32) | comm_idx[di][keep]
            korder = np.argsort(kidx)
            kk = kidx[korder]
            kseg = np.flatnonzero(np.r_[True, kk[1:] != kk[:-1]])
            es = verts[kk[kseg] >> 32]
            ed = verts[kk[kseg] & 0xFFFFFFFF]
            ew = np.add.reduceat(ew[keep][korder], kseg)
        else:
            es = np.empty(0, dtype=np.int64)
            ed = np.empty(0, dtype=np.int64)
            ew = np.empty(0)
        # edge endpoints are community ids ⊆ new_verts, so new_verts IS the
        # next level's sorted-unique vertex set
        verts = new_verts
        selfw_arr = new_selfw

    out = pd.DataFrame({"v": orig_verts, "community": assign_arr})
    return spark.createDataFrame(out)
