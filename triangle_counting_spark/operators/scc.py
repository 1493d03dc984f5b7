"""Strongly connected components — trim + forward-coloring + backward mark.

The directed-graph twin of ``components.py`` (the reference's component
sweep, tc.c:1174-1178, is undirected-only): SCC is the classic web-link
structure query (the bowtie decomposition's CORE/IN/OUT), so a link-graph
engine needs it as a first-class operator.

Algorithm — the coloring method (Orzan 2004; Slota/Rajamanickam/Madduri
FW-BW-trim, IPDPS'14), chosen over Tarjan because Tarjan's DFS stack is
inherently sequential while every step here is a data-parallel join:

repeat until no live vertices:
  1. **trim**: a live vertex with no live in-edges or no live out-edges
     can't sit on any cycle → it is a singleton SCC. Iterated to a
     fixpoint: on web graphs this alone removes the huge IN/OUT tendril
     mass before any propagation runs.
  2. **color** (forward max-label propagation): color(v) starts at v;
     every round color(v) := max(color(v), max color over in-neighbors).
     At the fixpoint color(v) = the max vertex that can reach v.
  3. **backward mark**: from each root r (color(r) = r), walk REVERSED
     edges restricted to vertices of color r. Completeness holds because
     every vertex on a path from a member of SCC(r) back to r has color
     exactly r (a larger color on the path would propagate to r and
     dethrone it). The marked set is exactly SCC(r); assign scc_id = r,
     remove it, repeat on the residual graph. All roots are processed in
     parallel in one pass — "the" walk is one join keyed by color.

Every step is a DataFrame join/aggregate (shuffle-partitioned on vertex
id); no per-row Python anywhere. scc_id = the MAX vertex id in the
component (the coloring root), so labels need no relabel join.

Iteration hygiene: every loop round ends in an EAGER ``localCheckpoint``
— these loops run a convergence-count job per round anyway, so the
checkpoint adds no extra job, and without it the accumulated semi/anti
joins tower into plans whose analysis + broadcast pinning OOMs the
driver long before the data is large (measured: the lazy-persist variant
of this file OOMed on a 893-edge graph; the checkpointed one converges
in seconds). This is the iterate.py lineage-truncation discipline with
the period forced to 1.

Scale notes (100 TB link graph): trim is two distinct+anti-joins per
round over a shrinking vertex set; coloring is CC-shaped (the same
join/agg the hash-min CC runs, whose N→4N scaling is evidenced in
BASELINE.md); the backward mark touches only same-color edges. The known
worst case is a chain of 2-cycles (O(n) outer rounds); real web graphs
finish in a couple because one giant root color captures the CORE in
round one (the gate graph: 1 outer round, 7+7 propagation rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.planner import plan_tier
from .orientation import DST, SRC, directed_edges


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 50,
    max_prop: int = 500,
    tier: str = "auto",
) -> DataFrame:
    """(v: long, scc_id: long) for every vertex of the directed edge list;
    scc_id = the MAX vertex id inside the component.

    Two physical tiers behind the engine's standard memory dispatch
    (``choose_iterative_tier``): **blocked** — the edge list fits the
    driver, run one O(V+E) iterative Tarjan pass over a CSR (measured:
    RMAT-20's 1.68M directed edges in ~3 s, vs 42-46 s for the shuffle
    tier, which is round-latency-bound at in-memory sizes exactly like
    the shuffle coreness, BASELINE.md r4) — and **shuffle** — the
    trim/color/mark join dataflow above, the beyond-memory path.

    Raises RuntimeError if ``max_outer``/``max_prop`` rounds don't
    converge — a silent partial labeling would poison downstream joins
    (the sampled_distances warn-on-truncation discipline, ADVICE r3).
    """
    e0 = directed_edges(edges)
    if plan_tier(e0, tier, assume_canonical=True) == "blocked":
        return _scc_blocked(e0)
    return _scc_shuffle(e0, max_outer, max_prop)


def _scc_blocked(e0: DataFrame) -> DataFrame:
    """Driver-vectorized tier: factorize vertex ids, build a CSR, run one
    iterative (explicit-stack) Tarjan pass. Tarjan is inherently
    sequential — which is exactly why it's the right IN-MEMORY kernel and
    the wrong distributed one: a single O(V+E) scan beats dozens of
    shuffle rounds whenever the edges fit (the blocked-CC/coreness
    precedent)."""
    import numpy as np
    import pandas as pd

    spark = e0.sparkSession
    pdf = e0.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], "v long, scc_id long")
    srcs = pdf[SRC].to_numpy(np.int64)
    dsts = pdf[DST].to_numpy(np.int64)
    verts, codes = np.unique(np.concatenate([srcs, dsts]), return_inverse=True)
    n = len(verts)
    s = codes[: len(srcs)]
    d = codes[len(srcs):]
    order = np.argsort(s, kind="stable")
    s_sorted, d_sorted = s[order], d[order]
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, s_sorted + 1, 1)
    indptr = np.cumsum(indptr)

    index = np.full(n, -1, dtype=np.int64)
    low = np.zeros(n, dtype=np.int64)
    on_stack = np.zeros(n, dtype=bool)
    comp_max = np.full(n, -1, dtype=np.int64)  # scc_id (original max vertex)
    tstack: list[int] = []
    counter = 0
    for start in range(n):
        if index[start] != -1:
            continue
        work = [(start, indptr[start])]
        index[start] = low[start] = counter
        counter += 1
        tstack.append(start)
        on_stack[start] = True
        while work:
            v, ei = work[-1]
            if ei < indptr[v + 1]:
                work[-1] = (v, ei + 1)
                w = int(d_sorted[ei])
                if index[w] == -1:
                    index[w] = low[w] = counter
                    counter += 1
                    tstack.append(w)
                    on_stack[w] = True
                    work.append((w, indptr[w]))
                elif on_stack[w]:
                    if index[w] < low[v]:
                        low[v] = index[w]
                continue
            work.pop()
            if work:
                u = work[-1][0]
                if low[v] < low[u]:
                    low[u] = low[v]
            if low[v] == index[v]:
                members = []
                while True:
                    w = tstack.pop()
                    on_stack[w] = False
                    members.append(w)
                    if w == v:
                        break
                root = int(verts[members[0]])
                for w in members:
                    if int(verts[w]) > root:
                        root = int(verts[w])
                for w in members:
                    comp_max[w] = root
    out = pd.DataFrame({"v": verts, "scc_id": comp_max})
    return spark.createDataFrame(out, "v long, scc_id long")


def _scc_shuffle(
    e0: DataFrame,
    max_outer: int = 50,
    max_prop: int = 500,
) -> DataFrame:
    spark = e0.sparkSession
    e = _ckpt(e0)
    remaining = _ckpt(
        e.select(F.col(SRC).alias("v"))
        .union(e.select(F.col(DST).alias("v")))
        .distinct()
    )
    live = e
    assigned: DataFrame | None = None

    def _assign(batch: DataFrame) -> None:
        nonlocal assigned
        assigned = _ckpt(
            batch if assigned is None else assigned.unionByName(batch)
        )

    def _restrict(edges_df: DataFrame, verts: DataFrame) -> DataFrame:
        return _ckpt(
            edges_df.join(verts.select(F.col("v").alias(SRC)), SRC, "left_semi")
            .join(verts.select(F.col("v").alias(DST)), DST, "left_semi")
            .select(SRC, DST)
        )

    for outer in range(max_outer):
        # ---- 1. trim to fixpoint: no live in-edge or no live out-edge ⇒
        # singleton SCC. Semi/anti joins only — no aggregation needed.
        for t in range(max_prop + 1):
            if t == max_prop:
                raise RuntimeError(f"scc: trim did not reach a fixpoint in {max_prop} rounds")
            srcs = live.select(F.col(SRC).alias("v")).distinct()
            dsts = live.select(F.col(DST).alias("v")).distinct()
            both = srcs.join(dsts, "v", "left_semi")
            trimmed = _ckpt(remaining.join(both, "v", "left_anti"))
            if trimmed.count() == 0:
                break
            _assign(trimmed.select("v", F.col("v").alias("scc_id")))
            remaining = _ckpt(remaining.join(trimmed, "v", "left_anti"))
            live = _restrict(live, remaining)
        if remaining.count() == 0:
            break

        # ---- 2. forward max-color propagation to fixpoint
        color = remaining.select("v", F.col("v").alias("color"))
        for p in range(max_prop + 1):
            if p == max_prop:
                raise RuntimeError(f"scc: color propagation exceeded {max_prop} rounds")
            nbr = (
                live.join(color.select(F.col("v").alias(SRC), "color"), SRC)
                .groupBy(F.col(DST).alias("v"))
                .agg(F.max("color").alias("nc"))
            )
            new = _ckpt(
                color.join(nbr, "v", "left").select(
                    "v",
                    F.greatest("color", F.coalesce("nc", "color")).alias("ncolor"),
                    (F.coalesce("nc", "color") > F.col("color")).alias("_chg"),
                )
            )
            color = new.select("v", F.col("ncolor").alias("color"))
            if new.where(F.col("_chg")).count() == 0:
                break

        # ---- 3. backward mark within equal color: SCC(r) for every root
        mark = _ckpt(color.where(F.col("v") == F.col("color")).select("v", "color"))
        frontier = mark
        for p in range(max_prop + 1):
            if p == max_prop:
                raise RuntimeError(f"scc: backward mark exceeded {max_prop} rounds")
            # u →(edge)→ w with w newly marked and color(u) == color(w) ⇒
            # u reaches the root through w → u is marked next
            preds = (
                live.join(frontier.select(F.col("v").alias(DST), "color"), DST)
                .select(F.col(SRC).alias("v"), "color")
                .distinct()
                .join(color.select("v", F.col("color").alias("_vc")), "v")
                .where(F.col("color") == F.col("_vc"))
                .select("v", "color")
            )
            frontier = _ckpt(preds.join(mark, "v", "left_anti"))
            if frontier.count() == 0:
                break
            mark = _ckpt(mark.unionByName(frontier))
        _assign(mark.select("v", F.col("color").alias("scc_id")))
        remaining = _ckpt(remaining.join(mark, "v", "left_anti"))
        if remaining.count() == 0:
            break
        live = _restrict(live, remaining)
    else:
        raise RuntimeError(f"scc: did not converge in {max_outer} outer rounds")

    if assigned is None:
        return spark.createDataFrame([], "v long, scc_id long")
    return assigned.select("v", "scc_id")
