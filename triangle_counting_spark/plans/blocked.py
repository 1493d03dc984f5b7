"""CSR-blocked iteration — the broadcast-tier substrate for PageRank / CC /
label propagation (north rule: "iterative sparse gather-scatter over
CSR-blocked edge partitions").

Tiering (mirrors the reference's plan choice by graph statistic,
tc.c:1844-1911):

- **blocked tier** (this module): the per-vertex STATE vector fits in
  executor memory (8-16 B/vertex → ~10^8 vertices in a few GB). Edges are
  partitioned once into P dst-disjoint CSR blocks that live as numpy arrays
  inside long-lived Arrow tasks; each iteration broadcasts the state
  vector, every block gathers contributions for its own dst range with
  np.add.reduceat (vectorized, zero Python-per-row), and the driver
  assembles + convergence-checks the next vector. Per-iteration cost:
  1 broadcast + P map tasks + 1 small collect — NO shuffle at all, with
  P = :func:`fan_out` over the symmetrized edge count (one block per
  4M edges, at most one wave of tasks).
- **shuffle tier** (operators/pagerank.py etc. + plans/iterate.py): state
  itself is distributed; one join + one aggregate per iteration. Used when
  vertices don't fit a vector (10^11+), at the cost of per-iteration
  shuffles.

Checkpoint/resume: the state vector + iteration meta are written as
parquet via pyarrow every ``checkpoint_every`` iterations (atomic
write-then-rename), same contract as plans/iterate.py.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# edges per block/task for work linear in its edges: a PageRank gather
# over 4M symmetrized edges is 0.1-0.2 s of numpy, below the fixed start-up
# cost of one Python task (PySpark's per-task file set-up, 0.2-0.4 s; both
# measured on a 4-vCPU machine), so finer splits only add tasks
EDGES_PER_BLOCK = 1 << 22


def fan_out(spark: SparkSession, edges: int | None = None) -> int:
    """Number of Python tasks for one ``mapInPandas`` fan-out.

    ``edges=None`` is a kernel whose work grows faster than its edge count
    (wedges, two-hop gathers): it gets one full wave of
    ``defaultParallelism`` tasks — striding balances them, and more tasks
    than cores only repeat the per-task start-up. Otherwise ``edges`` is
    the symmetrized edge count of a blocked round, whose gather is linear
    in it: one task per :data:`EDGES_PER_BLOCK`, capped at one wave.
    """
    wave = max(spark.sparkContext.defaultParallelism, 1)
    if edges is None:
        return wave
    return max(1, min(wave, -(-edges // EDGES_PER_BLOCK)))


@dataclass
class BlockedGraph:
    """Driver-resident compact graph: ids + per-block CSR over dst."""

    verts: np.ndarray  # sorted original vertex ids, index = compact id
    src: np.ndarray  # compact src of SYMMETRIZED edges, grouped by dst-block
    dst: np.ndarray
    out_deg: np.ndarray
    n_blocks: int
    block_bounds: np.ndarray  # edge-index boundaries per block (len n_blocks+1)
    weight: np.ndarray | None = None  # optional per-edge gather weight


def build_blocked(
    edges_pdf: pd.DataFrame, n_blocks: int, edge_weight: str | None = None
) -> BlockedGraph:
    """Compact + symmetrize + sort edges by (block(dst), dst).

    edges_pdf: canonical (src < dst) undirected edge list; for
    edge_weight="weighted" it must also carry a ``weight`` column.
    edge_weight: None, "inv_outdeg" (w = 1/outdeg(src) — plain PageRank),
    or "weighted" (w = weight/Σ_out weight — weighted PageRank; out_deg
    then holds the per-vertex out-STRENGTH, still 0 ⇔ dangling).
    """
    from ..operators.triangles import _compact_ids

    s_raw = edges_pdf["src"].to_numpy(dtype=np.int64)
    d_raw = edges_pdf["dst"].to_numpy(dtype=np.int64)
    m = len(s_raw)
    # int32 compact ids halve the memory traffic of every later gather;
    # dense-id inputs skip the unique pass entirely
    s, d, verts = _compact_ids(np, s_raw, d_raw, m)
    # symmetrize: undirected gather needs both directions
    src = np.concatenate([s, d])
    dst = np.concatenate([d, s])
    n = len(verts)
    if edge_weight == "weighted":
        w_half = edges_pdf["weight"].to_numpy(dtype=np.float64)
        sym_w = np.concatenate([w_half, w_half])
        out_deg = np.bincount(src, weights=sym_w, minlength=n)
    else:
        sym_w = None
        out_deg = np.bincount(src, minlength=n).astype(np.float64)
    # block(dst) is monotone in dst → a single stable argsort on dst gives
    # block-grouped dst-sorted order (no lexsort needed)
    order = np.argsort(dst, kind="stable")
    src, dst = src[order], dst[order]
    starts = ((np.arange(n_blocks + 1, dtype=np.int64) * n) + n_blocks - 1) // max(
        n_blocks, 1
    )
    bounds = np.searchsorted(dst, np.minimum(starts, n))
    weight = None
    if edge_weight == "inv_outdeg":
        weight = 1.0 / out_deg[src]
    elif edge_weight == "weighted":
        weight = sym_w[order] / out_deg[src]
    return BlockedGraph(verts, src, dst, out_deg, n_blocks, bounds, weight)


def blocked_rounds(
    spark: SparkSession,
    g: BlockedGraph,
    state0: np.ndarray,
    gather: str,
    update,
    tol: float,
    max_iter: int,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    fingerprint: str = "",
    resume: bool = True,
) -> tuple[np.ndarray, int, bool, list[dict]]:
    """Run blocked gather-scatter rounds.

    gather: "sum" (PageRank contributions) or "min" (hash-min CC).
    update(state, gathered) -> (new_state, delta).
    Returns (state, iterations, converged, metrics).
    """
    import time

    n_blocks = g.n_blocks
    state = state0.copy()
    start_iter = 0
    metrics: list[dict] = []

    if checkpoint_dir and resume:
        found = _latest(checkpoint_dir, fingerprint)
        if found:
            start_iter, state, meta = found
            metrics.append({"iteration": start_iter, "resumed": True, **meta})
            if meta.get("delta", float("inf")) <= tol:
                return state, start_iter, True, metrics
    if start_iter >= max_iter:
        return state, start_iter, False, metrics

    mode_min = gather == "min"

    def make_round(bc_state):
        def fn(batches):
            # load inline (NOT via the module-level helper): module
            # functions pickle by reference and would require the package
            # on every worker's import path
            from pyspark import SparkFiles  # noqa: PLC0415
            import numpy as np  # noqa: PLC0415

            arrs = {
                name: np.asarray(np.load(SparkFiles.get(f), mmap_mode="r"))
                for name, f in graph_files.items()
            }
            s_, d_, bounds = arrs["src"], arrs["dst"], arrs["bounds"]
            w_ = arrs.get("weight")
            vec = bc_state.value
            for b in batches:
                for blk in b["id"].to_numpy():
                    lo, hi = bounds[blk], bounds[blk + 1]
                    if hi <= lo:
                        yield pd.DataFrame({"dst": [], "val": []}).astype(
                            {"dst": "int64", "val": "float64"}
                        )
                        continue
                    dd = d_[lo:hi]
                    contrib = vec[s_[lo:hi]]
                    if w_ is not None:
                        contrib = contrib * w_[lo:hi]
                    # dst-sorted within block → segment reduce
                    cut = np.flatnonzero(np.r_[True, dd[1:] != dd[:-1]])
                    if mode_min:
                        red = np.minimum.reduceat(contrib, cut)
                    else:
                        red = np.add.reduceat(contrib, cut)
                    yield pd.DataFrame({"dst": dd[cut], "val": red})

        return fn

    # one slice id per partition (numPartitions=n_blocks) — NO repartition:
    # an AQE shuffle here costs ~0.7 s per iteration for nothing
    slices = spark.range(0, n_blocks, 1, numPartitions=n_blocks)
    converged = False
    delta = float("inf")
    # Ship the (large, immutable) graph arrays as .npy FILES + mmap, not as
    # a pickled broadcast: a pickled 540 MB graph is unpickled into every
    # python worker process (32 workers -> 17 GB RAM and a 100+ s first
    # iteration, measured at RMAT-20). np.load(mmap_mode='r') keeps ONE
    # page-cache copy per machine and loads in microseconds; sc.addFile
    # distributes the files to executors on a real cluster.
    with shipped_arrays(
        spark,
        {
            "src": g.src,
            "dst": g.dst,
            "bounds": g.block_bounds,
            **({"weight": g.weight} if g.weight is not None else {}),
        },
    ) as graph_files:
        for i in range(start_iter + 1, max_iter + 1):
            t0 = time.time()
            bc_state = spark.sparkContext.broadcast(state)
            rows = slices.mapInPandas(
                make_round(bc_state), schema="dst long, val double"
            )
            pdf = rows.toPandas()
            bc_state.destroy()
            gathered = np.full(
                len(g.verts), np.inf if mode_min else 0.0, dtype=np.float64
            )
            gathered[pdf["dst"].to_numpy(dtype=np.int64)] = pdf["val"].to_numpy()
            state, delta = update(state, gathered)
            m = {"iteration": i, "delta": float(delta), "sec": time.time() - t0}
            if checkpoint_dir and (i % checkpoint_every == 0 or delta <= tol):
                _write(checkpoint_dir, fingerprint, i, state, float(delta))
                m["checkpoint"] = True
            metrics.append(m)
            if delta <= tol:
                converged = True
                break
    return state, i, converged, metrics


def _ship_arrays(
    spark: SparkSession, arrays: dict[str, np.ndarray], into: str
) -> dict[str, str]:
    """Write numpy arrays as .npy files into the directory ``into`` and
    register them with sc.addFile.

    Each executor copies them into its SparkFiles directory once, before
    its first task. Returns name → file basename (``SparkFiles.get`` key).
    """
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:10]
    out = {}
    for name, arr in arrays.items():
        fname = f"tcs_{tag}_{name}.npy"
        path = os.path.join(into, fname)
        np.save(path, arr)
        spark.sparkContext.addFile(path)
        out[name] = fname
    return out


def _ship_dir() -> str:
    return tempfile.mkdtemp(prefix="tcs_blocked_")


def _drop_shipped(spark: SparkSession, d: str) -> None:
    """Remove a shipped-array directory once a job has read its files.

    Spark has no call to withdraw a file from ``sc.addFile``: every task
    of the session lists it, and an executor that has not fetched it yet
    copies it from this directory. On a local master the one executor
    fetched it with the caller's first task, so the directory can go.
    On a cluster a later executor would still ask for it, so it stays
    for the session.
    """
    if spark.sparkContext._jsc.sc().isLocal():
        shutil.rmtree(d, ignore_errors=True)


@contextmanager
def shipped_arrays(spark: SparkSession, arrays: dict[str, np.ndarray]):
    """:func:`_ship_arrays` into a new ``tcs_blocked_*`` temp dir for the
    length of a with-block, which must run at least one job over the
    files; the dir is dropped (:func:`_drop_shipped`) when the block ends
    without an exception (after one, no task may have fetched them)."""
    d = _ship_dir()
    yield _ship_arrays(spark, arrays, d)
    _drop_shipped(spark, d)


def _write(base: str, fingerprint: str, iteration: int, state: np.ndarray, delta: float):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, f".iter{iteration:06d}.tmp.parquet")
    pq.write_table(pa.table({"state": state}), tmp)
    os.replace(tmp, os.path.join(base, f"iter{iteration:06d}.parquet"))
    meta = {"iteration": iteration, "delta": delta, "fingerprint": fingerprint}
    tmpm = os.path.join(base, f".iter{iteration:06d}.tmp.json")
    with open(tmpm, "w") as f:
        json.dump(meta, f)
    os.replace(tmpm, os.path.join(base, f"iter{iteration:06d}.json"))


def _latest(base: str, fingerprint: str):
    import pyarrow.parquet as pq

    if not os.path.isdir(base):
        return None
    for name in sorted(os.listdir(base), reverse=True):
        if not (name.startswith("iter") and name.endswith(".json")):
            continue
        with open(os.path.join(base, name)) as f:
            meta = json.load(f)
        if meta.get("fingerprint") != fingerprint:
            continue
        pq_path = os.path.join(base, name.replace(".json", ".parquet"))
        if not os.path.exists(pq_path):
            continue
        state = pq.read_table(pq_path)["state"].to_numpy().copy()
        return meta["iteration"], state, meta
    return None
