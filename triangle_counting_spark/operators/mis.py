"""Maximal independent set — Luby's algorithm with deterministic priorities.

The classic parallel symmetry-breaking primitive (Luby 1986): every
vertex draws a priority; a vertex joins the MIS when its priority beats
every UNDECIDED neighbor's; winners' neighbors are knocked out; repeat
until no vertex is undecided. With a FIXED priority order the parallel
rounds provably compute the same set as the sequential greedy sweep in
priority order (the lexicographically-first MIS w.r.t. that order) — so
the two tiers here are bit-identical by construction, and the result is
deterministic at any parallelism:

- shuffle tier: per round one symmetric-edge join + one min-aggregate
  (the connected-components round shape, components.py) to find each
  undecided vertex's best undecided neighbor, then two subtractions.
  Expected O(log n) rounds; edges persisted pre-partitioned once.
- blocked tier: the greedy sweep over a driver-side CSR in priority
  order — O(n + m) single pass, for graphs under the memory cutoff.

Priorities are ``xxhash64(v)`` with the vertex id as tie-break (a
struct compare, exact), so no RNG state exists anywhere — the same
graph always yields the same MIS, and a resumed or re-partitioned run
cannot diverge (the checkpointed-iteration discipline of the north
rule, plans/iterate.py).

Reference anchor: independent-set thinking appears in the treelist
removal step (tc.c:528-556 removes a matched edge set); this operator
generalizes that to the standard vertex primitive Spark lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges, symmetrize


def maximal_independent_set(
    edges: DataFrame,
    tier: str = "auto",
    max_iter: int = 200,
    priority: str = "xxhash64",
) -> DataFrame:
    """``(v: long, in_mis: boolean)`` for every non-isolated vertex —
    the lexicographically-first MIS under the chosen priority order.

    ``priority``: ``"xxhash64"`` (default — one JVM hash per vertex) or
    ``"md5"`` (hex-string hash available verbatim in ANSI SQL engines,
    so an external oracle can replay the EXACT same set — the driver
    gate runs this variant; same algorithm, different total order).
    """
    if priority not in ("xxhash64", "md5"):
        raise ValueError(f"unknown priority {priority!r}")
    tier = plan_tier(edges, tier)
    ce = canonical_edges(edges)
    if tier == "blocked":
        return _mis_blocked(ce, priority)
    return _mis_shuffle(ce, max_iter, priority)


def _priority(col: str = "v", kind: str = "xxhash64"):
    # unique total order: hash first (spreads the id space), id tie-break
    if kind == "md5":
        h = F.md5(F.col(col).cast("string"))
    else:
        h = F.xxhash64(F.col(col))
    return F.struct(h.alias("h"), F.col(col).alias("t"))


def _mis_shuffle(ce: DataFrame, max_iter: int, priority: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    spark = ce.sparkSession
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sym = (
        symmetrize(ce)
        .repartition(nshuf, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    undecided = (
        sym.select(F.col(SRC).alias("v")).distinct().persist()
    )
    if undecided.count() == 0:
        undecided.unpersist()
        sym.unpersist()
        return spark.createDataFrame([], "v long, in_mis boolean")
    decided_parts: list[DataFrame] = []
    # each round's frames are eagerly localCheckpoint-ed: the undecided
    # set is defined by anti-joins against the previous round, so without
    # truncation the lineage (and the Catalyst plan) grows exponentially
    # in the O(log n) round count — the iterate.py discipline
    for _ in range(max_iter):
        # best (min-priority) UNDECIDED neighbor of each undecided vertex;
        # the edge table is static — restrict both endpoints per round
        u_src = undecided.select(F.col("v").alias(SRC))
        u_dst = undecided.select(F.col("v").alias(DST))
        nbr_best = (
            sym.join(u_src, SRC)
            .join(u_dst, DST)
            .groupBy(F.col(SRC).alias("v"))
            .agg(F.min(_priority(DST, priority)).alias("nbr_p"))
        )
        # winner: no undecided neighbor at all, or beats the best of them
        winners = (
            undecided.join(nbr_best, "v", "left")
            .where(
                F.col("nbr_p").isNull()
                | (_priority("v", priority) < F.col("nbr_p"))
            )
            .select("v")
            .localCheckpoint(eager=True)
        )
        if winners.count() == 0:
            # the global-minimum undecided vertex always wins, so an empty
            # winner set means the undecided set itself is empty
            break
        knocked = (
            sym.join(winners.select(F.col("v").alias(SRC)), SRC)
            .select(F.col(DST).alias("v"))
            .distinct()
            .join(undecided, "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        decided_parts.append(winners.select("v", F.lit(True).alias("in_mis")))
        decided_parts.append(knocked.select("v", F.lit(False).alias("in_mis")))
        prev = undecided
        undecided = (
            prev.join(winners, "v", "left_anti")
            .join(knocked, "v", "left_anti")
            .localCheckpoint(eager=True)
        )
        prev.unpersist()
        if undecided.count() == 0:
            break
    else:
        # loudly incomplete, never silently partial: the documented
        # contract is a row for EVERY non-isolated vertex, and the
        # blocked tier always delivers it (ADVICE r3 discipline —
        # exhausted bounds must raise, not truncate)
        remaining = undecided.count()
        if remaining > 0:
            sym.unpersist()
            undecided.unpersist()
            raise RuntimeError(
                f"maximal_independent_set: {remaining} vertices still "
                f"undecided after max_iter={max_iter} rounds (adversarial "
                "priority chain?) — raise max_iter or use tier='blocked'"
            )
    out = decided_parts[0]
    for part in decided_parts[1:]:
        out = out.unionByName(part)
    result = out.localCheckpoint(eager=True)
    sym.unpersist()
    return result


def _mis_blocked(ce: DataFrame, priority: str = "xxhash64") -> DataFrame:
    """Greedy sweep in priority order over a driver CSR — identical
    output to the parallel rounds by Luby's lexicographic-MIS property."""
    import numpy as np
    import pandas as pd

    from ..plans.blocked import build_csr, collect_compact

    spark = ce.sparkSession
    s, d, verts = collect_compact(ce.select(SRC, DST))
    if len(s) == 0:
        return spark.createDataFrame([], "v long, in_mis boolean")
    n = len(verts)
    rowptr, colind, _ = build_csr(s, d, n)
    # priority order via Spark (one tiny job keeps the hash definition in
    # ONE place instead of reimplementing xxhash64/md5 driver-side)
    hdf = (
        spark.createDataFrame(pd.DataFrame({"v": verts}), "v long")
        .select("v", _priority("v", priority).getField("h").alias("h"))
        .toPandas()
        .set_index("v")
        .loc[verts]
    )
    # pandas stable sort handles both int64 (xxhash64) and str (md5) keys
    pri = (
        pd.DataFrame({"h": hdf["h"].to_numpy(), "v": verts})
        .sort_values(["h", "v"], kind="stable")
        .index.to_numpy()
    )
    state = np.zeros(n, np.int8)  # 0 undecided, 1 in MIS, -1 knocked out
    for i in pri:
        if state[i] == 0:
            state[i] = 1
            nbrs = colind[rowptr[i]:rowptr[i + 1]]
            state[nbrs[state[nbrs] == 0]] = -1
    return spark.createDataFrame(
        pd.DataFrame({"v": verts, "in_mis": state == 1}),
        "v long, in_mis boolean",
    )
