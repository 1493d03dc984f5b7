"""HITS (Kleinberg hubs & authorities) — the directed companion of
PageRank for link graphs.

    auth'(v) = Σ_{u→v} hub(u)        (gather over in-edges)
    hub'(u)  = Σ_{u→v} auth'(v)      (gather over out-edges)

with an L2 normalization after each half-step (the classic power
iteration on A·Aᵀ / Aᵀ·A). The gather-scatter skeleton is the same
frontier shape the reference's BFS relaxation uses (bfs.c:7-31) and the
same per-iteration plan as :mod:`pagerank`: one equi-join of the
persisted pre-partitioned edge table with the score table + one hash
aggregate per half-step — partial aggregation gives the reference's
per-thread partial sums (tc_parallel.c:24-27) for free.

Scale notes (100 TB): the edge table is persisted hash-partitioned on
``src`` once; each half-step shuffles only the (v, score) table, never
the edges. The L2 norm is a single scalar agg per half-step — two
driver round-trips per iteration, constant bytes. Synchronous float64
updates → deterministic to allclose 1e-6 against the numpy oracle at
any parallelism.

Two tiers, matching the rest of the iterative surface:
- ``shuffle``: the DataFrame dataflow above — the beyond-memory path.
- ``blocked``: both gathers as ``np.bincount`` over a driver-collected
  factorized edge array while the graph fits the memory-derived cutoff
  (:func:`~triangle_counting_spark.plans.planner.choose_iterative_tier`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import LoopResult, loop
from ..plans.planner import plan_tier
from .orientation import DST, SRC, directed_edges


def hits(
    edges: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    run_id: str | None = None,
    resume: bool = True,
) -> LoopResult:
    """Shuffle-tier HITS. Returns LoopResult whose state is
    ``(v: long, hub: double, auth: double)`` with ‖hub‖₂ = ‖auth‖₂ = 1.

    Convergence: max(|Δhub|, |Δauth|) <= tol. ``tol < 0`` runs exactly
    ``max_iter`` synchronous iterations (the oracle-comparable form).
    """
    from pyspark.storagelevel import StorageLevel

    de = directed_edges(edges)
    spark = edges.sparkSession
    _nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # persisted once, pre-partitioned on src: every half-step joins the
    # edges on one of its endpoint columns; only the score table (n rows,
    # not m) shuffles per iteration
    e = de.repartition(_nshuf, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    verts = (
        e.select(F.col(SRC).alias("v"))
        .union(e.select(F.col(DST).alias("v")))
        .distinct()
    )
    n = verts.count()
    if n == 0:
        empty = verts.select(
            "v", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
        return LoopResult(state=empty, iterations=0, converged=True, delta=0.0)

    init = 1.0 / float(np.sqrt(n))
    state0 = verts.select(
        "v", F.lit(init).alias("hub"), F.lit(init).alias("auth")
    )

    if tol < 0 and checkpoint_dir is None and max_iter >= 1:
        # Fixed-iteration fast path (the oracle/bench variant). The
        # convergence loop's shape pays twice per iteration for state it
        # never uses: the localCheckpoint barrier re-runs the h gather
        # (e ⋈ a_raw + agg) that the norms job already executed, and the
        # 3-way (state ⋈ auth ⋈ hub) merge exists only to carry
        # hub_prev/auth_prev for a delta test that tol < 0 skips. Here
        # the iterated state is the hub table alone (vertices with no
        # out-edges have hub 0 and no matching edge rows, so dropping
        # them changes no sum — the join output row set is identical),
        # h_raw is persisted so the norm job IS its only execution, and
        # the full-vertex zero-fill join runs once at the end. Identical
        # float expressions in the same aggregation shape → identical
        # results (gate-verified); measured 17.1 s → ~9 s at sf0.1 for
        # 10 iterations.
        import time as _time

        hub = state0.select("v", "hub")
        metrics: list[dict] = []
        cached: list[DataFrame] = []
        a_raw = None
        a_norm = 0.0
        for i in range(1, max_iter + 1):
            t0 = _time.time()
            a_raw = (
                e.join(hub.select(F.col("v").alias(SRC), "hub"), SRC)
                .groupBy(F.col(DST).alias("v"))
                .agg(F.sum("hub").alias("s"))
                .persist()
            )
            # lazy localCheckpoint, not persist: the norms job below is
            # its first (and only) execution, and the checkpoint cuts the
            # logical plan to a leaf — without it the per-iteration plan
            # nests all previous iterations and Catalyst's tree handling
            # (not the data) becomes the bottleneck
            h_raw = (
                e.join(a_raw.select(F.col("v").alias(DST), "s"), DST)
                .groupBy(F.col(SRC).alias("v"))
                .agg(F.sum(F.col("s")).alias("s"))
                .localCheckpoint(eager=False)
            )
            norms = {
                r["t"]: float(r["n"] or 0.0)
                for r in a_raw.select(F.lit("a").alias("t"), "s")
                .unionByName(h_raw.select(F.lit("h").alias("t"), "s"))
                .groupBy("t")
                .agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("n"))
                .collect()
            }
            a_norm, h_norm = norms.get("a", 0.0), norms.get("h", 0.0)
            hub = h_raw.select("v", (F.col("s") / F.lit(h_norm)).alias("hub"))
            # previous iteration's a gather is dead once this norm job
            # materialized the new one (h_raw owns its checkpointed
            # partitions; only a_raw is cache-managed)
            while len(cached) > 1:
                cached.pop(0).unpersist()
            cached.append(a_raw)
            metrics.append(
                {"iteration": i, "delta": float("inf"),
                 "sec": _time.time() - t0}
            )
        auth = a_raw.select("v", (F.col("s") / F.lit(a_norm)).alias("auth"))
        final = (
            verts.join(hub.withColumnRenamed("hub", "hub_new"), "v", "left")
            .join(auth.withColumnRenamed("auth", "auth_new"), "v", "left")
            .select(
                "v",
                F.coalesce("hub_new", F.lit(0.0)).alias("hub"),
                F.coalesce("auth_new", F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
        while cached:
            cached.pop().unpersist()
        e.unpersist()
        return LoopResult(
            state=final,
            iterations=max_iter,
            converged=False,
            delta=float("inf"),
            metrics=metrics,
        )

    pinned: list[DataFrame] = []

    def step(state: DataFrame, _i: int) -> DataFrame:
        # Both half-steps, ONE driver round-trip. Normalization is
        # scale-invariant — normalize(A·(a/c)) == normalize(A·a) — so the
        # hub gather consumes the UNNORMALIZED auth sums and both L2 norms
        # come back in a single union-aggregate collect (at 1000 executors
        # a scalar collect is a full stage barrier; one per iteration, not
        # two). a_raw is cached so the union job and the hub gather share
        # one materialization; unpersisted once the next state exists.
        a_raw = (
            e.join(state.select(F.col("v").alias(SRC), "hub"), SRC)
            .groupBy(F.col(DST).alias("v"))
            .agg(F.sum("hub").alias("s"))
            .persist()
        )
        h_raw = (
            e.join(a_raw.select(F.col("v").alias(DST), "s"), DST)
            .groupBy(F.col(SRC).alias("v"))
            .agg(F.sum(F.col("s")).alias("s"))
        )
        norms = {
            r["t"]: float(r["n"] or 0.0)
            for r in a_raw.select(F.lit("a").alias("t"), "s")
            .unionByName(h_raw.select(F.lit("h").alias("t"), "s"))
            .groupBy("t")
            .agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("n"))
            .collect()
        }
        a_norm, h_norm = norms.get("a", 0.0), norms.get("h", 0.0)
        auth = a_raw.select(
            "v", (F.col("s") / F.lit(a_norm)).alias("auth_new")
        )
        hub = h_raw.select("v", (F.col("s") / F.lit(h_norm)).alias("hub_new"))
        # retire the previous iteration's cached sums; keep this one until
        # the loop's eager checkpoint has materialized the new state
        while pinned:
            pinned.pop().unpersist()
        pinned.append(a_raw)
        return (
            state.select(
                "v",
                F.col("hub").alias("hub_prev"),
                F.col("auth").alias("auth_prev"),
            )
            .join(auth, "v", "left")
            .join(hub, "v", "left")
            .select(
                "v",
                F.coalesce("hub_new", F.lit(0.0)).alias("hub"),
                F.coalesce("auth_new", F.lit(0.0)).alias("auth"),
                "hub_prev",
                "auth_prev",
            )
        )

    def delta_fn(_old: DataFrame, new: DataFrame, _i: int) -> float:
        return new.agg(
            F.greatest(
                F.max(F.abs(F.col("hub") - F.col("hub_prev"))),
                F.max(F.abs(F.col("auth") - F.col("auth_prev"))),
            )
        ).collect()[0][0]

    result = loop(
        state0,
        step,
        delta_fn,
        tol=tol,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        run_id=run_id,
        fingerprint=f"hits|tol={tol}|n={n}",
        resume=resume,
    )
    while pinned:
        pinned.pop().unpersist()
    e.unpersist()
    result.state = result.state.select("v", "hub", "auth")
    return result


def hits_fixed(
    edges: DataFrame, iterations: int, tier: str = "shuffle"
) -> DataFrame:
    """Exactly ``iterations`` synchronous HITS iterations — the
    oracle-comparable deterministic variant. ``tier``: "shuffle",
    "blocked", or "auto" (memory-derived cutoff)."""
    if plan_tier(directed_edges(edges), tier, assume_canonical=True) == "blocked":
        return hits_blocked(edges, iterations)
    res = hits(edges, tol=-1.0, max_iter=iterations)
    return res.state


def hits_blocked(edges: DataFrame, iterations: int) -> DataFrame:
    """Blocked tier: one driver collect of the factorized edge array, then
    both gathers per iteration are ``np.bincount`` — no per-iteration jobs
    at all. Bit-comparable to the shuffle tier at allclose 1e-12 (same
    float64 sum tree up to reassociation); gated behind the memory-derived
    cutoff by :func:`hits_fixed` (``tier="auto"``)."""
    de = directed_edges(edges)
    pdf = de.toPandas()
    spark = edges.sparkSession
    if len(pdf) == 0:
        return spark.createDataFrame([], "v long, hub double, auth double")
    src = pdf[SRC].to_numpy(dtype=np.int64)
    dst = pdf[DST].to_numpy(dtype=np.int64)
    verts = np.unique(np.concatenate([src, dst]))
    n = len(verts)
    si = np.searchsorted(verts, src)
    di = np.searchsorted(verts, dst)
    hub = np.full(n, 1.0 / np.sqrt(n))
    auth = np.full(n, 1.0 / np.sqrt(n))
    for _ in range(int(iterations)):
        # same op order as the shuffle tier: the hub gather consumes the
        # UNNORMALIZED auth sums (normalization is scale-invariant)
        a_raw = np.bincount(di, weights=hub[si], minlength=n)
        h_raw = np.bincount(si, weights=a_raw[di], minlength=n)
        a_norm = float(np.sqrt((a_raw * a_raw).sum()))
        h_norm = float(np.sqrt((h_raw * h_raw).sum()))
        auth = a_raw / a_norm if a_norm > 0 else a_raw
        hub = h_raw / h_norm if h_norm > 0 else h_raw
    import pandas as pd

    out = pd.DataFrame({"v": verts, "hub": hub, "auth": auth})
    return spark.createDataFrame(out)
