"""Embedding similarity search — brute-force cosine top-k + LSH-bucketed ANN.

Brute force is the exactness baseline (and the oracle target); the
random-hyperplane LSH variant is the 100 TB path: candidates come from a
bucket equi-join instead of a cross join, so cost scales with bucket
occupancy, not |corpus| × |queries|.
Dot products run JVM-side via zip_with + aggregate (sequential fold in
index order → bit-reproducible); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    emb = _as_double(F.col(vec_col))
    return df.select(
        "*", F.sqrt(_dot(emb, emb)).alias("_norm"), emb.alias("_emb")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos_sim) — exact cosine top-k.

    The query side is broadcast (it is small by construction); similarity
    is rounded to 9 decimals BEFORE ranking so float noise can't flip
    near-tied orders, then ties break by neighbor id — fully deterministic.
    """
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_emb").alias("c_emb"), F.col("_norm").alias("c_n")
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_emb").alias("q_emb"), F.col("_norm").alias("q_n")
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / F.sqrt(F.col("q_n") * F.col("q_n") * F.col("c_n") * F.col("c_n")),
                9,
            ).alias("cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        sims.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id",
                F.round("cs", 6).alias("cos_sim"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "blocked",
    block_rows: int = 65536,
    n_blocks: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) — EXACT embedding-cosine near-duplicate pairs,
    id_a < id_b.

    method="blocked" (default): broadcast the L2-normalized matrix (mmap'd
    .npy, one page-cache copy per machine) and fan strided row-blocks out
    over executors — each block is ONE BLAS matmul ``M[block] @ M.T``.
    Exact all-pairs is inherently O(n²) FLOPs, but this plan moves O(n)
    data (no cartesian/theta join shuffling n² rows, which is what the r1
    version did) and the FLOPs run vectorized at memory bandwidth; each
    slice processes its rows in bounded chunks so the dense score block
    stays ~256 MB per task regardless of n. The ceiling is thus the
    broadcast MATRIX itself (n·dim·8 B ≤ executor memory — ~10^7 vectors
    at dim 128 is ~10 GB, the practical page-cache limit) plus O(n²)
    total FLOPs.

    method="grid": the beyond-driver tier — NOTHING is ever collected.
    Vectors hash-partition into B = ceil(n / block_rows) blocks
    (``pmod(xxhash64(id), B)``); every unordered block pair (i ≤ j) is a
    grid cell; each side replicates into its row/column of the grid
    (shuffle = n·(B+1) rows) and a cogrouped Arrow kernel runs the same
    chunked BLAS matmul per cell. Per-task memory is two blocks plus a
    ≤256 MB score chunk — independent of n — so the ceiling is gone; the
    trade is the n·(B+1) shuffle, which is why ``blocked`` stays the
    default below the broadcast limit. Exact all-pairs is still O(n²)
    FLOPs no matter the plan; beyond ~10^8 vectors use LSH bucketing
    (:func:`lsh_topk`) with a high threshold — exact sub-0.5-threshold
    all-pairs at 10^9 vectors is not a real query.

    method="allpairs": the r1 theta-join formulation, kept as the
    small-scale cross-check oracle.

    method="auto": memory-derived dispatch, same discipline as the graph
    operators' ``choose_iterative_tier`` (plans/planner.py) — one
    count+max(dim) aggregate estimates the broadcast matrix footprint
    (n·dim·8 B ×3 for the driver-side pandas/numpy staging copies);
    "blocked" while that fits 10% of the JVM heap (conf override
    ``spark.tcs.neardupBroadcastBytes``), else "grid". Never a magic row
    count: a 10^6×1024-dim corpus and a 10^7×64-dim corpus have the same
    footprint and get the same answer.

    All methods produce bit-identical output: the same left-to-right fold
    over the dimension axis, round-9 before the threshold, round-6
    JVM-side after (see the kernel comments).
    """
    if method == "auto":
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size(F.col(vec_col))).alias("dim"),
        ).collect()[0]
        n_vecs, dim = int(stats["n"] or 0), int(stats["dim"] or 0)
        spark = df.sparkSession
        try:
            budget = spark.conf.get("spark.tcs.neardupBroadcastBytes", None)
        except Exception:  # noqa: BLE001 — connect mode without conf access
            budget = None
        if budget is not None:
            budget = int(budget)  # loud on garbage, like bcast_max_edges
        else:
            try:
                budget = (
                    int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory()) // 10
                )
            except Exception:  # noqa: BLE001 — no JVM handle
                budget = 1 << 30
        footprint = n_vecs * dim * 8 * 3
        if footprint <= budget:
            method = "blocked"
        else:
            method = "grid"
            if n_blocks is None:
                n_blocks = max(1, -(-n_vecs // max(block_rows, 1)))
    if method == "allpairs":
        e = with_norm(df, vec_col).select(
            F.col(id_col).alias("id"), F.col("_emb"), F.col("_norm")
        )
        a = e.select(F.col("id").alias("id_a"), F.col("_emb").alias("ea"), F.col("_norm").alias("na"))
        b = e.select(F.col("id").alias("id_b"), F.col("_emb").alias("eb"), F.col("_norm").alias("nb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        cs = F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 9)
        return (
            pairs.select("id_a", "id_b", cs.alias("cs"))
            .where(F.col("cs") >= threshold)
            .select("id_a", "id_b", F.round("cs", 6).alias("cos_sim"))
        )
    if method == "grid":
        return _embedding_neardup_grid(
            df, threshold, id_col, vec_col, block_rows=block_rows, n_blocks=n_blocks
        )
    if method != "blocked":
        raise ValueError(f"unknown method {method!r}")
    import numpy as np
    import pandas as pd

    from ..plans.blocked import _ship_arrays, _ship_dir, fan_out

    spark = df.sparkSession
    pdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb")).toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    if len(ids) == 0:
        return spark.createDataFrame([], "id_a long, id_b long, cos_sim double")
    M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["emb"]])
    # the frame returned below is lazy, so its files must outlive this
    # call: their dir stays for the session
    files = _ship_arrays(spark, {"ids": ids, "mat": M}, _ship_dir())
    n = len(ids)
    n_slices = fan_out(spark)
    thr = float(threshold)

    def kernel(batches):
        from pyspark import SparkFiles  # noqa: PLC0415

        mat = np.asarray(np.load(SparkFiles.get(files["mat"]), mmap_mode="r"))
        idv = np.asarray(np.load(SparkFiles.get(files["ids"]), mmap_mode="r"))
        dim = mat.shape[1]
        # norms accumulated LEFT-TO-RIGHT over the dimension axis — NOT
        # np.linalg.norm — so each value reproduces the sequential fold the
        # SQL oracle (and the zip_with/aggregate expression) computes;
        # BLAS pairwise summation differs in the last ulp, which flips
        # round-to-9 at boundary values (one real sf0.01 pair hit this)
        nrm_sq = np.zeros(len(idv))
        for kk in range(dim):
            nrm_sq += mat[:, kk] * mat[:, kk]
        nrm = np.sqrt(nrm_sq)
        # cap the dense block: a whole slice's (n/n_slices) x n float64
        # C would be hundreds of GB at 10^7 vectors — chunk rows so each
        # matmul block stays ~256 MB regardless of n (row count adapts)
        chunk_rows = max(1, (256 << 20) // (8 * max(len(idv), 1)))
        for b in batches:
            for sl in b["id"].to_numpy():
                all_rows = np.arange(int(sl), len(idv), n_slices)
                if len(all_rows) == 0:
                    continue
                for c0 in range(0, len(all_rows), chunk_rows):
                    rows = all_rows[c0 : c0 + chunk_rows]
                    # dot products accumulated left-to-right over k
                    # (vectorized outer updates), then one division by the
                    # norm product — structurally identical to
                    # dot(a,b)/(|a|·|b|) in the oracle; round to 9 BEFORE
                    # the threshold (mirrors ROUND(cs,9) >= t)
                    C = np.zeros((len(rows), len(idv)))
                    for kk in range(dim):
                        C += np.multiply.outer(mat[rows, kk], mat[:, kk])
                    C = np.round(C / np.multiply.outer(nrm[rows], nrm), 9)
                    ii, jj = np.nonzero(
                        (C >= thr) & (idv[rows][:, None] < idv[None, :])
                    )
                    if len(ii) == 0:
                        continue
                    yield pd.DataFrame(
                        {
                            "id_a": idv[rows[ii]],
                            "id_b": idv[jj],
                            "cos_sim": C[ii, jj],
                        }
                    )

    slices = spark.range(0, n_slices, 1, numPartitions=n_slices)
    out = slices.mapInPandas(kernel, schema="id_a long, id_b long, cos_sim double")
    # final 6-dp rounding JVM-side: np.round is round-half-EVEN while
    # Spark/DuckDB ROUND are half-up — a round-9 value landing exactly on a
    # 6-dp half boundary (0.3526985 happened in real data) flips otherwise
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def _embedding_neardup_grid(
    df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    block_rows: int = 65536,
    n_blocks: int | None = None,
) -> DataFrame:
    """Distributed block-grid exact all-pairs cosine — no driver collect.

    Plan: one count() to size B (skipped when ``n_blocks`` is given), one
    shuffle replicating each vector into its grid row and column
    (n·(B+1) rows), then a cogrouped Arrow kernel per cell (i ≤ j). Ids
    hash into exactly one block, so every unordered vector pair lands in
    exactly one cell — no dedup pass needed. Skew-proof by construction:
    blocks are xxhash64-uniform regardless of id distribution.

    Numerics mirror the broadcast kernel exactly (left-to-right fold over
    the dimension axis for both norms and dots, np.round to 9 before the
    threshold, JVM round to 6 after), so grid == blocked == allpairs
    bit-for-bit and the same DuckDB oracle replays it.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    e = with_norm(df, vec_col).select(F.col(id_col).alias("id"), "_emb")
    if n_blocks is None:
        n = e.count()
        if n == 0:
            return spark.createDataFrame([], "id_a long, id_b long, cos_sim double")
        n_blocks = max(1, -(-n // max(block_rows, 1)))
    B = int(n_blocks)
    thr = float(threshold)
    e = e.withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))

    # B*B is small (B ~ n/block_rows); enumerate cells with range
    # arithmetic rather than a Range-x-Range theta join so the whole plan
    # stays nested-loop-free.
    grid = (
        spark.range(B * B)
        .select(
            (F.col("id") / B).cast("int").alias("gi"),
            F.pmod(F.col("id"), F.lit(B)).cast("int").alias("gj"),
        )
        .where(F.col("gi") <= F.col("gj"))
    )
    # row side of each cell: block i; column side: block j. Each vector
    # replicates (B - blk) + (blk + 1) = B + 1 times in total. Aliases
    # keep the two uses of e/grid from tripping the self-join checker.
    a_exp = (
        e.alias("ea")
        .join(F.broadcast(grid.alias("ga")), F.col("ea.blk") == F.col("ga.gi"))
        .select(F.col("ga.gi").alias("gi"), F.col("ga.gj").alias("gj"),
                F.col("ea.id").alias("id"), F.col("ea._emb").alias("_emb"))
    )
    b_exp = (
        e.alias("eb")
        .join(F.broadcast(grid.alias("gb")), F.col("eb.blk") == F.col("gb.gj"))
        .select(F.col("gb.gi").alias("gi"), F.col("gb.gj").alias("gj"),
                F.col("eb.id").alias("id"), F.col("eb._emb").alias("_emb"))
    )

    def cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cos_sim": pd.Series(dtype="float64")})
        if not len(left) or not len(right):
            return empty
        diag = int(left["gi"].iloc[0]) == int(left["gj"].iloc[0])
        ida = left["id"].to_numpy(dtype=np.int64)
        idb = right["id"].to_numpy(dtype=np.int64)
        A = np.stack([np.asarray(x, dtype=np.float64) for x in left["_emb"]])
        Bm = np.stack([np.asarray(x, dtype=np.float64) for x in right["_emb"]])
        dim = A.shape[1]
        # norms and dots accumulate LEFT-TO-RIGHT over the dimension axis
        # (not np.linalg.norm / BLAS pairwise summation) so every value
        # reproduces the sequential fold of the SQL oracle and of the
        # zip_with/aggregate JVM expression — last-ulp drift flips
        # round-to-9 at boundary values (seen in real sf0.01 data)
        na_sq = np.zeros(len(ida))
        nb_sq = np.zeros(len(idb))
        for kk in range(dim):
            na_sq += A[:, kk] * A[:, kk]
            nb_sq += Bm[:, kk] * Bm[:, kk]
        na, nb = np.sqrt(na_sq), np.sqrt(nb_sq)
        chunk = max(1, (256 << 20) // (8 * len(idb)))
        frames = []
        for c0 in range(0, len(ida), chunk):
            rows = slice(c0, c0 + chunk)
            C = np.zeros((len(ida[rows]), len(idb)))
            for kk in range(dim):
                C += np.multiply.outer(A[rows, kk], Bm[:, kk])
            C = np.round(C / np.multiply.outer(na[rows], nb), 9)
            mask = C >= thr
            if diag:
                mask &= ida[rows][:, None] < idb[None, :]
            ii, jj = np.nonzero(mask)
            if not len(ii):
                continue
            xa, xb = ida[rows][ii], idb[jj]
            frames.append(pd.DataFrame({
                "id_a": np.minimum(xa, xb),
                "id_b": np.maximum(xa, xb),
                "cos_sim": C[ii, jj],
            }))
        return pd.concat(frames, ignore_index=True) if frames else empty

    out = (
        a_exp.groupBy("gi", "gj")
        .cogroup(b_exp.groupBy("gi", "gj"))
        .applyInPandas(cell, schema="id_a long, id_b long, cos_sim double")
    )
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via random-hyperplane (SimHash-for-cosine) LSH.

    n_tables independent sign-signatures of n_planes hyperplanes; vectors
    sharing a (table, signature) bucket with a query become candidates, then
    exact cosine ranks them. Signatures come from an Arrow-batched numpy
    kernel — one (batch x dim) @ (dim x n_planes) matmul per table with
    deterministic seeded hyperplanes. (A pure-JVM expression formulation
    explodes into dim*n_planes*n_tables Catalyst nodes and takes minutes to
    plan — measured 143 s vs ~2 s; UDFs are the slow path EXCEPT when the
    expression tree itself is the bottleneck.)
    """
    def make_sig_kernel(idname: str):
        def kernel(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            pl = None
            pows = (1 << np.arange(n_planes)).astype(np.int64)
            for b in batches:
                if not len(b):
                    continue
                E = np.stack([np.asarray(x, dtype=np.float64) for x in b["_emb"]])
                if pl is None:
                    pl = np.random.default_rng(seed).standard_normal(
                        (n_tables, n_planes, E.shape[1])
                    )
                ids = b[idname].to_numpy()
                norms = b["_norm"].to_numpy()
                frames = []
                for t in range(n_tables):
                    proj = E @ pl[t].T  # (batch, n_planes)
                    sig = ((proj > 0).astype(np.int64) * pows).sum(axis=1)
                    frames.append(
                        pd.DataFrame(
                            {
                                idname: ids,
                                "tbl": np.full(len(ids), t, dtype=np.int32),
                                "sig": sig,
                                f"{idname}_emb": list(b["_emb"]),
                                f"{idname}_n": norms,
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        return kernel

    def bucketize(df: DataFrame, idname: str) -> DataFrame:
        e = with_norm(df, vec_col).select(
            F.col(id_col).alias(idname), F.col("_emb"), F.col("_norm")
        )
        schema = (
            f"{idname} long, tbl int, sig long, "
            f"{idname}_emb array<double>, {idname}_n double"
        )
        return e.mapInPandas(make_sig_kernel(idname), schema=schema)

    cq = bucketize(queries, "query_id")
    cc = bucketize(corpus, "neighbor_id")
    cand = (
        cq.join(cc, ["tbl", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "query_id_emb", "query_id_n", "neighbor_id",
                "neighbor_id_emb", "neighbor_id_n")
        .distinct()
    )
    sims = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("query_id_emb"), F.col("neighbor_id_emb"))
            / (F.col("query_id_n") * F.col("neighbor_id_n")),
            9,
        ).alias("cs"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        sims.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id",
                F.round("cs", 6).alias("cos_sim"))
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    lloyd_iters: int = 2,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means coarse quantizer for :func:`ivf_topk` — returns the
    L2-normalized centroid matrix as a numpy array (n_centroids × dim).

    Deterministic: init = the n_centroids vectors with the smallest
    xxhash64(id, seed) (a seeded distributed sample, no Date/rand), then
    ``lloyd_iters`` assignment/update rounds. Each round is ONE pass:
    an Arrow-batched argmax-dot kernel emits per-BATCH partial sums
    (n_centroids × dim rows per batch, not per vector), so the update
    shuffle is O(batches · k · dim) — independent of corpus size. At
    10^9+ vectors you'd train on a hash-sample instead; the assignment
    pass below is the part that must (and does) scale linearly.
    """
    import numpy as np

    unit = with_norm(corpus, vec_col).where(F.col("_norm") > 0)
    init_rows = (
        unit.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(n_centroids)
        .select("_emb", "_norm")
        .collect()
    )
    if not init_rows:
        raise ValueError(
            "ivf_centroids: corpus has no vectors with positive norm"
        )
    C = np.stack([np.asarray(r["_emb"], dtype=np.float64) / r["_norm"] for r in init_rows])
    if len(C) < n_centroids:
        n_centroids = len(C)

    base = unit.select(F.col("_emb"), F.col("_norm"))
    for _ in range(max(0, lloyd_iters)):
        Cb = C  # capture THIS round's centroids by value in the closure

        def partial_sums(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            for b in batches:
                if not len(b):
                    continue
                E = np.stack([np.asarray(x, dtype=np.float64) for x in b["_emb"]])
                U = E / b["_norm"].to_numpy()[:, None]
                cid = np.argmax(U @ Cb.T, axis=1)
                k_, d_ = Cb.shape
                sums = np.zeros((k_, d_))
                np.add.at(sums, cid, U)
                cnt = np.bincount(cid, minlength=k_).astype("int64")
                yield pd.DataFrame(
                    {
                        "cid": np.repeat(np.arange(k_, dtype=np.int32), d_),
                        "pos": np.tile(np.arange(d_, dtype=np.int32), k_),
                        "s": sums.ravel(),
                        "cnt": np.repeat(cnt, d_),
                    }
                )

        agg = (
            base.mapInPandas(partial_sums, schema="cid int, pos int, s double, cnt long")
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        newC = C.copy()  # empty clusters keep their previous centroid
        k_, d_ = C.shape
        sums = np.zeros((k_, d_))
        cnts = np.zeros(k_, dtype=np.int64)
        for r in agg:
            sums[r["cid"], r["pos"]] = r["s"]
            cnts[r["cid"]] = r["cnt"]
        nz = cnts > 0
        norms = np.linalg.norm(sums[nz], axis=1)
        ok = norms > 0
        idx = np.flatnonzero(nz)[ok]
        newC[idx] = sums[idx] / norms[ok][:, None]
        C = newC
    return C


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 2,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer — the
    second ANN scale path next to :func:`lsh_topk` (SURVEY: "IVF or LSH").

    Shape: train n_centroids spherical-k-means centroids (tiny, broadcast);
    ONE linear assignment pass buckets the corpus by nearest centroid (the
    inverted lists); each query probes only its n_probe nearest lists, so
    candidate generation is a centroid-id EQUI-JOIN — cost scales with the
    probed lists' occupancy, not |corpus| × |queries|. Exact cosine then
    re-ranks candidates with the same round-before-rank determinism as
    :func:`brute_force_topk`. n_probe == n_centroids probes every list →
    EXACTLY the brute-force ranking (the oracle config); recall at lossy
    n_probe is asserted against brute force in tests.
    """
    import numpy as np

    C = ivf_centroids(corpus, n_centroids, lloyd_iters, seed, id_col, vec_col)

    def make_assign_kernel(idname: str, top: int):
        def kernel(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            for b in batches:
                if not len(b):
                    continue
                E = np.stack([np.asarray(x, dtype=np.float64) for x in b["_emb"]])
                U = E / b["_norm"].to_numpy()[:, None]
                D = U @ C.T  # (batch, n_centroids)
                if top == 1:
                    cid = np.argmax(D, axis=1).astype(np.int32)
                    yield pd.DataFrame(
                        {
                            idname: b[idname],
                            "cid": cid,
                            f"{idname}_emb": list(b["_emb"]),
                            f"{idname}_n": b["_norm"],
                        }
                    )
                else:
                    order = np.argsort(-D, axis=1)[:, :top].astype(np.int32)
                    reps = order.shape[1]
                    yield pd.DataFrame(
                        {
                            idname: np.repeat(b[idname].to_numpy(), reps),
                            "cid": order.ravel(),
                            f"{idname}_emb": [
                                e for e in b["_emb"] for _ in range(reps)
                            ],
                            f"{idname}_n": np.repeat(b["_norm"].to_numpy(), reps),
                        }
                    )

        return kernel

    def prep(df: DataFrame, idname: str, top: int) -> DataFrame:
        # drop zero-norm vectors exactly as ivf_centroids does — a zero
        # embedding would divide by zero in the assignment kernel and emit
        # NaN cos_sim rows instead of being excluded (ADVICE r3)
        e = (
            with_norm(df, vec_col)
            .where(F.col("_norm") > 0)
            .select(F.col(id_col).alias(idname), F.col("_emb"), F.col("_norm"))
        )
        schema = f"{idname} long, cid int, {idname}_emb array<double>, {idname}_n double"
        return e.mapInPandas(make_assign_kernel(idname, top), schema=schema)

    lists = prep(corpus, "neighbor_id", 1)  # the inverted file
    probes = prep(queries, "query_id", min(n_probe, len(C)))
    cand = (
        F.broadcast(probes)
        .join(lists, "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "query_id_emb", "query_id_n",
                "neighbor_id", "neighbor_id_emb", "neighbor_id_n")
        .distinct()
    )
    sims = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("query_id_emb"), F.col("neighbor_id_emb"))
            / (F.col("query_id_n") * F.col("neighbor_id_n")),
            9,
        ).alias("cs"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        sims.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id",
                F.round("cs", 6).alias("cos_sim"))
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id_col, codes: binary, code_norm: double) — symmetric int8 max-abs
    scalar quantization (SQ8), the storage/IO tier for 100 TB similarity:
    code_i = round(x_i / max|x| · 127) packed as one byte per dimension, a
    4× (float32) / 8× (float64) reduction in scan bytes — the sequential-
    scan cost an exhaustive rescore pays is dominated by IO at corpus
    scale, so SQ8 cuts it proportionally.

    Cosine needs NO dequantization scale: the per-vector max-abs factor
    cancels in cos(a,b) = Σ(ca·cb) / (√Σca² · √Σcb²) — only the integer
    code dot and the stored ``code_norm`` = √Σcode² matter. Zero-norm
    vectors are dropped (the repo-wide similarity convention)."""

    def kernel(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for b in batches:
            if not len(b):
                continue
            codes, norms = [], []
            for x in b["_emb"]:
                v = np.asarray(x, dtype=np.float64)
                s = np.abs(v).max()
                c = np.round(v / s * 127.0).astype(np.int8)
                codes.append(c.tobytes())
                norms.append(float(np.sqrt(float((c.astype(np.int64) ** 2).sum()))))
            yield pd.DataFrame(
                {id_col: b[id_col], "codes": codes, "code_norm": norms}
            )

    e = with_norm(df, vec_col).where(F.col("_norm") > 0).select(
        F.col(id_col), F.col("_emb")
    )
    return e.mapInPandas(kernel, schema=f"{id_col} long, codes binary, code_norm double")


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: bool = True,
    rerank_factor: int = 4,
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos_sim) — exhaustive int8 scan +
    exact rerank: the SQ8 twin of :func:`brute_force_topk`.

    Shape: the corpus is scanned as packed int8 codes (4-8× fewer bytes
    than the float column — at 100 TB the scan IS the cost); each Arrow
    batch computes an integer code-dot matrix against the broadcast query
    codes (one numpy int32 matmul per batch, no per-row Python) and emits
    only its local top ``k·rerank_factor`` candidates per query. A global
    window keeps the top candidates, and ``rerank=True`` rescores exactly
    those few with full-precision cosine (same round-before-rank
    determinism as brute force), fixing any quantization-induced order
    flips inside the candidate set. rerank_factor trades recall for
    candidate volume; recall vs brute force is asserted in tests."""
    import numpy as np

    topc = int(k) * int(rerank_factor)
    qrows = quantize_embeddings(queries, id_col, vec_col).collect()
    if not qrows:
        raise ValueError("queries are empty (or all zero-norm)")
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    Q = np.stack([
        np.frombuffer(bytes(r["codes"]), dtype=np.int8).astype(np.int32)
        for r in qrows
    ])
    qn = np.array([r["code_norm"] for r in qrows])

    def scan_kernel(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for b in batches:
            if not len(b):
                continue
            C = np.stack([
                np.frombuffer(bytes(c), dtype=np.int8).astype(np.int32)
                for c in b["codes"]
            ])
            cn = b["code_norm"].to_numpy()
            S = (C @ Q.T) / (cn[:, None] * qn[None, :])  # (batch, nq)
            nids = b[id_col].to_numpy()
            top = min(topc, len(nids))
            # per-query local top candidates from this batch
            order = np.argsort(-S, axis=0)[:top]  # (top, nq)
            out_q, out_n, out_s = [], [], []
            for j in range(S.shape[1]):
                sel = order[:, j]
                out_q.extend([int(qids[j])] * len(sel))
                out_n.extend(nids[sel].tolist())
                out_s.extend(S[sel, j].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "qcos": out_s}
            )

    qc = quantize_embeddings(corpus, id_col, vec_col)
    local = qc.mapInPandas(
        scan_kernel, schema="query_id long, neighbor_id long, qcos double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("qcos", 9)), F.asc("neighbor_id")
    )
    cand = (
        local.select("*", F.row_number().over(w).alias("_r"))
        .where(F.col("_r") <= topc)
        .select("query_id", "neighbor_id", "qcos")
    )
    if not rerank:
        wq = Window.partitionBy("query_id").orderBy(
            F.desc(F.round("qcos", 9)), F.asc("neighbor_id")
        )
        return (
            cand.select("*", F.row_number().over(wq).alias("rank"))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "neighbor_id", F.round("qcos", 6).alias("cos_sim"))
        )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_emb").alias("c_emb"), F.col("_norm").alias("c_n"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_emb").alias("q_emb"), F.col("_norm").alias("q_n"),
    )
    exact = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "neighbor_id",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_n") * F.col("c_n")),
                9,
            ).alias("cs"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        exact.select("*", F.row_number().over(wr).alias("rank"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "neighbor_id", F.round("cs", 6).alias("cos_sim"))
    )
