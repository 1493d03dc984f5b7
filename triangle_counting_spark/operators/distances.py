"""Sampled-source distance statistics — average distance, effective
diameter, sampled diameter lower bound.

The reference's BFS (bfs.c:7-54) computes levels from ONE root; the
standard link-graph questions built on it — "how far apart are vertices",
"what is the 90th-percentile distance" (effective diameter) — need exact
per-root distances from MANY independent sources. Exact all-pairs is
O(n·m) and off the table at web scale; the standard estimator (HyperANF's
motivation, and the sampling scheme in the SNAP notebooks' tradition) is
exact BFS from a deterministic sample of roots.

Root sampling is md5-rank based (smallest md5(v) strings), NOT xxhash64,
so the exact root set replays in ANSI SQL / DuckDB for the oracle — the
same replayability trick as triangle_count_estimate.

Two tiers, same fixpoint (gate-cross-checked):
- blocked: in-memory CSR, one numpy BFS sweep per root — n_roots · O(m)
  with zero shuffles; the fits-in-memory default.
- shuffle: ONE simultaneous multi-root frontier loop over (root, v)
  state — each round is a frontier ⋈ edges join + a (root, v) min-agg +
  an anti-join against reached state. O(diameter) rounds regardless of
  root count; state is |roots| · |V| rows worst case, hash-partitioned.
  First-reach = min-distance (BFS invariant), so reached rows are final
  and never rejoin the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.planner import plan_tier
from .orientation import DST, SRC, canonical_edges, symmetrize


def sample_roots(edges: DataFrame, n_roots: int, assume_canonical: bool = False) -> DataFrame:
    """The n_roots vertices with the smallest md5(v) — deterministic and
    ANSI-SQL-replayable (``ORDER BY md5(CAST(v AS VARCHAR)), v``)."""
    ce = edges.select(SRC, DST) if assume_canonical else canonical_edges(edges)
    verts = ce.select(F.col(SRC).alias("v")).union(ce.select(F.col(DST).alias("v"))).distinct()
    return verts.orderBy(F.md5(F.col("v").cast("string")), F.col("v")).limit(n_roots)


def sampled_distances(
    edges: DataFrame,
    n_roots: int = 16,
    tier: str = "auto",
    max_iter: int = 256,
    assume_canonical: bool = False,
) -> DataFrame:
    """(root, v, dist) — EXACT BFS distance from each sampled root to every
    vertex it reaches (including (root, root, 0)). Unreached pairs absent.
    """
    ce = edges if assume_canonical else canonical_edges(edges)
    tier = plan_tier(ce, tier, assume_canonical=True)
    roots = sample_roots(ce, n_roots, assume_canonical=True)
    if tier == "blocked":
        return _sampled_distances_blocked(ce, roots)
    return _sampled_distances_shuffle(ce, roots, max_iter)


def _sampled_distances_blocked(ce: DataFrame, roots: DataFrame) -> DataFrame:
    """One numpy BFS per root over a local CSR (bfs.py blocked-tier shape)."""
    import numpy as np
    import pandas as pd

    from .bfs import csr_expand_unvisited, local_csr

    spark = ce.sparkSession
    schema = "root long, v long, dist long"
    verts, _deg, rowptr, ci = local_csr(ce)
    n = len(verts)
    if n == 0:
        return spark.createDataFrame([], schema)
    root_ids = np.array(sorted(r["v"] for r in roots.collect()), dtype=np.int64)

    frames = []
    for root in root_ids:
        seed = int(np.searchsorted(verts, root))
        if seed >= n or verts[seed] != root:
            continue
        dist = np.full(n, -1, dtype=np.int64)
        dist[seed] = 0
        frontier = np.array([seed], dtype=np.int64)
        lvl = 0
        while len(frontier):
            lvl += 1
            new = csr_expand_unvisited(rowptr, ci, frontier, dist >= 0)
            if not len(new):
                break
            dist[new] = lvl
            frontier = new
        mask = dist >= 0
        frames.append(
            pd.DataFrame({"root": root, "v": verts[mask], "dist": dist[mask]})
        )
    if not frames:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pd.concat(frames, ignore_index=True), schema=schema)


def _sampled_distances_shuffle(
    ce: DataFrame, roots: DataFrame, max_iter: int
) -> DataFrame:
    """Simultaneous multi-root BFS: one frontier join per round for ALL
    roots. Reached (root, v) rows are final (first reach is the min dist),
    so each round only the new frontier joins the edge table."""
    from pyspark.storagelevel import StorageLevel

    sym = symmetrize(ce).persist(StorageLevel.MEMORY_AND_DISK)
    state = (
        F.broadcast(roots)
        .select(F.col("v").alias("root"), F.col("v"), F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = state
    converged = False
    for _ in range(max_iter):
        nbr = (
            sym.join(
                frontier.select(F.col("v").alias(SRC), "root", "dist"), SRC
            )
            .groupBy("root", F.col(DST).alias("v"))
            .agg((F.min("dist") + 1).alias("dist"))
        )
        new = nbr.join(state, ["root", "v"], "left_anti").localCheckpoint(eager=True)
        if new.limit(1).count() == 0:
            converged = True
            break
        state = state.union(new).localCheckpoint(eager=True)
        frontier = new
    sym.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"sampled_distances: frontier still active after max_iter="
            f"{max_iter} rounds — distances beyond that depth are missing",
            RuntimeWarning,
            stacklevel=2,
        )
    return state.select("root", "v", "dist")


def distance_stats(
    edges: DataFrame, n_roots: int = 16, tier: str = "auto"
) -> DataFrame:
    """One row: (n_pairs, avg_dist, p90_dist, max_dist) over the sampled
    exact distances — avg = mean reachable distance, p90 = effective
    diameter (90th percentile, linear interpolation — matches ANSI
    quantile_cont), max = sampled diameter lower bound. Self-pairs
    (dist 0) included, mirroring the SQL oracle."""
    d = sampled_distances(edges, n_roots=n_roots, tier=tier)
    return d.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("dist"), 6).alias("avg_dist"),
        F.round(F.percentile("dist", F.lit(0.9)), 6).alias("p90_dist"),
        F.max("dist").alias("max_dist"),
    )


def centrality(
    edges: DataFrame,
    n_roots: int = 16,
    tier: str = "auto",
    assume_canonical: bool = False,
) -> DataFrame:
    """(v, harmonic, closeness) — sampled-source centrality per vertex.

    Built entirely on :func:`sampled_distances` (exact BFS from the
    md5-sampled roots), so the estimate is deterministic and replays in
    ANSI SQL the same way distance_stats does. Estimators (Eppstein-Wang
    sampling scheme, distances measured FROM the sampled roots):

    - harmonic(v)  = n/k · Σ_{root: 0<d} 1/d(root, v) — the
      disconnect-robust form (unreachable roots contribute 0, no ∞);
      each non-v vertex is a root with probability k/n, so n/k is the
      unbiased scale, and with k=n this IS exact harmonic centrality.
    - closeness(v) = (r̂/(n-1)) · (k_reach/Σd) with r̂ = (n/k)·k_reach
      (estimated count of vertices that reach v) — Wasserman-Faust
      closeness, exact when k=n: ((r-1)/(n-1))·((r-1)/Σ_all d). The
      (r-1)/(n-1) factor keeps tiny components from getting inflated
      scores. Vertices reached only by themselves score 0.

    One groupBy over the (root, v, dist) table — the BFS loop is the
    entire cost; the estimator adds a single shuffle on v. At web scale
    k stays O(100) while n is billions: state is k·n rows, the same
    bound sampled_distances already carries.
    """
    ce = edges.select(SRC, DST) if assume_canonical else canonical_edges(edges)
    tier = plan_tier(ce, tier, assume_canonical=True)
    verts = (
        ce.select(F.col(SRC).alias("v")).union(ce.select(F.col(DST).alias("v"))).distinct()
    )
    n = verts.count()
    d = sampled_distances(ce, n_roots=n_roots, tier=tier, assume_canonical=True)
    k = d.select("root").distinct().count()  # roots actually present
    if k == 0 or n <= 1:
        return verts.select(
            "v", F.lit(0.0).alias("harmonic"), F.lit(0.0).alias("closeness")
        )
    scale = float(n) / float(k)
    agg = d.where(F.col("dist") > 0).groupBy("v").agg(
        F.sum(1.0 / F.col("dist")).alias("_hsum"),
        F.sum(F.col("dist").cast("double")).alias("_dsum"),
        F.count(F.lit(1)).alias("_k_reach"),
    )
    # every vertex gets a row (isolated-in-sample vertices score 0)
    reach_hat = F.lit(scale) * F.col("_k_reach")
    return (
        verts.join(agg, "v", "left")
        .select(
            "v",
            F.round(F.coalesce(F.col("_hsum") * scale, F.lit(0.0)), 6).alias("harmonic"),
            F.round(
                F.coalesce(
                    (reach_hat / (n - 1.0)) * (F.col("_k_reach") / F.col("_dsum")),
                    F.lit(0.0),
                ),
                6,
            ).alias("closeness"),
        )
    )


def sssp(
    edges: DataFrame,
    root: int | None = None,
    weight_col: str = "weight",
    tier: str = "auto",
    max_iter: int = 10_000,
) -> DataFrame:
    """(v, dist) — exact single-source shortest paths over POSITIVE edge
    weights (undirected), the weighted companion to BFS.

    ``root=None`` picks the md5-min vertex (SQL-replayable, same sampling
    trick as :func:`sample_roots`). Algorithm is synchronous Bellman-Ford
    with a delta frontier — per round only vertices whose distance
    improved last round relax their neighbors (one join + one min-agg +
    one improvement join), converging in hop-diameter rounds; positive
    weights guarantee termination. The blocked tier runs the same rounds
    as in-memory ``np.minimum.at`` scatters (zero shuffle). Weights must
    be > 0 (validated) — negative edges are not a link-graph shape and
    break the frontier argument.
    """
    s, d = F.col(SRC).cast("long"), F.col(DST).cast("long")
    w = F.col(weight_col).cast("double")
    ce = (
        edges.select(s.alias(SRC), d.alias(DST), w.alias("_w"))
        .where(F.col(SRC) != F.col(DST))
        .where(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
    )
    # the tier statistic wants the CANONICAL edge count — the raw
    # weighted table may carry both directions / duplicate rows, and
    # claiming assume_canonical over it would inflate m up to 2x and
    # misroute graphs near the cutoff
    tier = plan_tier(ce.select(SRC, DST), tier)
    # NOT(w > 0) catches w <= 0 AND NULL AND NaN (NULL > 0 is NULL, and
    # Spark orders NaN above every number so NaN > 0 is true — test NaN
    # explicitly); a single NULL/NaN weight reaching the numpy kernel
    # would poison every distance it touches
    bad = F.col("_w").isNull() | F.isnan("_w") | (F.col("_w") <= 0)
    if ce.where(bad).limit(1).count() > 0:
        raise ValueError(
            "sssp requires strictly positive, non-null, non-NaN edge weights"
        )
    sym = ce.union(
        ce.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col("_w"))
    )
    if root is None:
        verts = sym.select(F.col(SRC).alias("v")).distinct()
        root = int(
            verts.orderBy(F.md5(F.col("v").cast("string")), F.col("v"))
            .limit(1)
            .collect()[0]["v"]
        )
    if tier == "blocked":
        return _sssp_blocked(sym, int(root))
    return _sssp_shuffle(sym, int(root), max_iter)


def _sssp_blocked(sym: DataFrame, root: int) -> DataFrame:
    import numpy as np
    import pandas as pd

    spark = sym.sparkSession
    schema = "v long, dist double"
    pdf = sym.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([(root, 0.0)], schema)
    s = pdf[SRC].to_numpy(np.int64)
    d = pdf[DST].to_numpy(np.int64)
    w = pdf["_w"].to_numpy(np.float64)
    verts = np.unique(np.concatenate([s, d]))
    n = len(verts)
    sc = np.searchsorted(verts, s)
    dc = np.searchsorted(verts, d)
    dist = np.full(n, np.inf)
    seed = int(np.searchsorted(verts, root))
    if seed >= n or verts[seed] != root:
        return spark.createDataFrame([(root, 0.0)], schema)
    dist[seed] = 0.0
    # synchronous Bellman-Ford rounds: one vectorized scatter per round;
    # converges within hop-diameter < n rounds on positive weights — the
    # explicit n-round bound keeps even a pathological input from spinning
    for _ in range(n):
        cand = dist[sc] + w
        new = dist.copy()
        np.minimum.at(new, dc, cand)
        if np.array_equal(new, dist):  # inf == inf holds elementwise
            break
        dist = new
    mask = np.isfinite(dist)
    return spark.createDataFrame(
        pd.DataFrame({"v": verts[mask], "dist": dist[mask]}), schema=schema
    )


def _sssp_shuffle(sym: DataFrame, root: int, max_iter: int) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    spark = sym.sparkSession
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    state = spark.createDataFrame(
        [(root, 0.0)], "v long, dist double"
    ).localCheckpoint(eager=True)
    frontier = state
    converged = False
    for _ in range(max_iter):
        relax = (
            sym.join(frontier.select(F.col("v").alias(SRC), "dist"), SRC)
            .groupBy(F.col(DST).alias("v"))
            .agg(F.min(F.col("dist") + F.col("_w")).alias("cand"))
        )
        improved = (
            relax.join(state, "v", "left")
            .where(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("v", F.col("cand").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if improved.limit(1).count() == 0:
            converged = True
            break
        state = (
            state.join(improved.select("v"), "v", "left_anti")
            .union(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    sym.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"sssp: relaxations still improving after max_iter={max_iter} "
            "rounds — returned distances are an upper bound, not final",
            RuntimeWarning,
            stacklevel=2,
        )
    return state
