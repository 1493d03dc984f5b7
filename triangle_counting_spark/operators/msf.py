"""Minimum spanning forest — Kruskal in memory, data-parallel Borůvka beyond.

The weighted-graph companion to connected components: clustering /
backbone extraction over the weighted co-occurrence graph (single-link
hierarchical clustering's first levels ARE Borůvka rounds). Kruskal and
Prim are driver-sequential (a sorted scan with union-find) — which makes
Kruskal the right IN-MEMORY kernel and the wrong distributed one;
Borůvka is the textbook distributed MST and maps onto this engine's
iterative-join substrate:

per round (O(log n) rounds total, components at least halve):
  1. drop intra-component edges,
  2. every component picks its minimum incident edge under the TOTAL
     order (weight, src, dst) — ties broken deterministically, so the
     forest is unique and replayable regardless of partitioning,
  3. picked edges join the forest; components contract along them —
     each component has exactly ONE picked edge, so the merge graph is a
     functional graph ``parent(c) = other endpoint's component``, whose
     only cycles are 2-cycles (mutual minimum edges). Break those to
     roots (min id wins), then pointer-double ``parent := parent[parent]``
     — one self-join per jump, O(log chain) jumps, no aggregation,
  4. vertices relabel through the contraction map.

Eager ``localCheckpoint`` per round (the scc.py lineage discipline). At
100 TB the dominant per-round cost is one edges ⋈ labels join + one
component-keyed min — the same shape as one PageRank iteration, whose
N→4N scaling is evidenced in BASELINE.md; the contraction jumps operate
on the (much smaller) component table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.planner import plan_tier
from .orientation import DST, SRC


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def minimum_spanning_forest(
    wedges: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 64,
    tier: str = "auto",
) -> DataFrame:
    """(src, dst, weight) — the minimum spanning forest of the undirected
    weighted edge list (src < dst canonical rows; one row per edge).

    Deterministic: ties resolve by (weight, src, dst), so the result is
    THE unique MSF of the tie-broken total order.

    Two physical tiers (the engine's standard memory dispatch): **blocked**
    — edges fit the driver, one Kruskal pass (numpy lexsort + union-find) —
    and **shuffle** — the Borůvka join dataflow, the beyond-memory path
    (round-latency-bound at in-memory sizes, like the shuffle coreness/SCC
    tiers — see BASELINE.md r4).
    """
    if plan_tier(wedges.select(SRC, DST), tier, assume_canonical=True) == "blocked":
        return _msf_blocked(wedges, weight_col)
    return _msf_shuffle(wedges, weight_col, max_iter)


def _canon_weighted(wedges: DataFrame, weight_col: str) -> DataFrame:
    return (
        wedges.select(
            F.col(SRC).cast("long").alias(SRC),
            F.col(DST).cast("long").alias(DST),
            F.col(weight_col).cast("double").alias("w"),
        )
        .where(F.col(SRC) != F.col(DST))
        .groupBy(SRC, DST)
        .agg(F.min("w").alias("w"))
    )


def _msf_blocked(wedges: DataFrame, weight_col: str) -> DataFrame:
    """Driver Kruskal under the same (w, src, dst) total order: lexsort,
    then one union-find scan (path-halving)."""
    import numpy as np
    import pandas as pd

    spark = wedges.sparkSession
    pdf = _canon_weighted(wedges, weight_col).toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], f"{SRC} long, {DST} long, weight double")
    srcs = pdf[SRC].to_numpy(np.int64)
    dsts = pdf[DST].to_numpy(np.int64)
    ws = pdf["w"].to_numpy(np.float64)
    order = np.lexsort((dsts, srcs, ws))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    keep = []
    for i in order:
        a, b = int(srcs[i]), int(dsts[i])
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            keep.append(i)
    out = pd.DataFrame({SRC: srcs[keep], DST: dsts[keep], "weight": ws[keep]})
    return spark.createDataFrame(out, f"{SRC} long, {DST} long, weight double")


def _msf_shuffle(
    wedges: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 64,
) -> DataFrame:
    e = _ckpt(_canon_weighted(wedges, weight_col))
    comp = _ckpt(
        e.select(F.col(SRC).alias("v"))
        .union(e.select(F.col(DST).alias("v")))
        .distinct()
        .select("v", F.col("v").alias("c"))
    )
    forest: DataFrame | None = None

    for r in range(max_iter + 1):
        if r == max_iter:
            raise RuntimeError(f"msf: did not converge in {max_iter} Borůvka rounds")
        # labeled derives from the checkpointed e/comp — a SHALLOW plan, so
        # persist (no job) is enough; eager-checkpointing it would add one
        # job per round for no lineage benefit
        from pyspark.storagelevel import StorageLevel

        labeled = (
            e.join(comp.select(F.col("v").alias(SRC), F.col("c").alias("cs")), SRC)
            .join(comp.select(F.col("v").alias(DST), F.col("c").alias("cd")), DST)
            .where(F.col("cs") != F.col("cd"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # each component's minimum incident edge under (w, src, dst); the
        # OTHER endpoint's component rides along as the contraction parent
        # (it can't affect the ordering: (w, src, dst) is already unique)
        cand = labeled.select(
            F.col("cs").alias("c"), "w", SRC, DST, F.col("cd").alias("oc")
        ).union(
            labeled.select(
                F.col("cd").alias("c"), "w", SRC, DST, F.col("cs").alias("oc")
            )
        )
        per_c = _ckpt(
            cand.groupBy("c")
            .agg(F.min(F.struct("w", SRC, DST, "oc")).alias("m"))
            .select(
                "c",
                F.col("m")[SRC].alias(SRC),
                F.col("m")[DST].alias(DST),
                F.col("m")["w"].alias("w"),
                F.col("m")["oc"].alias("p"),
            )
        )
        if per_c.limit(1).count() == 0:
            labeled.unpersist()
            break
        picked = per_c.select(SRC, DST, "w").distinct()
        forest = _ckpt(
            picked if forest is None else forest.unionByName(picked).distinct()
        )
        # contract the functional merge graph parent(c) = p: its only
        # cycles are 2-cycles (two components whose min edges coincide) —
        # break them to a root (min id), then pointer-double to the root.
        par0 = per_c.select("c", "p")
        gp = par0.select(F.col("c").alias("p"), F.col("p").alias("pp"))
        par = _ckpt(
            par0.join(gp, "p", "left").select(
                "c",
                F.when(
                    (F.col("pp") == F.col("c")) & (F.col("c") < F.col("p")),
                    F.col("c"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
        )
        for i in range(max_iter + 1):
            if i == max_iter:
                raise RuntimeError(
                    f"msf: contraction did not close in {max_iter} jumps"
                )
            jump = par.select(F.col("c").alias("p"), F.col("p").alias("p2"))
            new = _ckpt(
                par.join(jump, "p", "left").select(
                    "c",
                    F.coalesce("p2", "p").alias("np"),
                    (F.coalesce("p2", "p") != F.col("p")).alias("_chg"),
                )
            )
            par = new.select("c", F.col("np").alias("p"))
            if new.where(F.col("_chg")).count() == 0:
                break
        comp = _ckpt(
            comp.join(par, comp["c"] == par["c"], "left").select(
                comp["v"], F.coalesce(par["p"], comp["c"]).alias("c")
            )
        )
        # intra-component edges can only grow — prune them from e as we go
        e = _ckpt(
            labeled.join(
                par.select(F.col("c").alias("cs"), F.col("p").alias("ls")),
                "cs",
                "left",
            )
            .join(
                par.select(F.col("c").alias("cd"), F.col("p").alias("ld")),
                "cd",
                "left",
            )
            .where(F.coalesce("ls", F.col("cs")) != F.coalesce("ld", F.col("cd")))
            .select(SRC, DST, "w")
        )
        # e/comp/forest are eagerly checkpointed above, so nothing still
        # references this round's cached edge set — release it now instead
        # of leaking one CacheManager entry per Borůvka round
        labeled.unpersist()

    spark = wedges.sparkSession
    if forest is None:
        return spark.createDataFrame([], f"{SRC} long, {DST} long, weight double")
    return forest.select(SRC, DST, F.col("w").alias("weight"))
