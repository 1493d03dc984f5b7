"""The broadcast-CSR substrate behind every numpy tier.

Every tier that runs numpy over the whole graph — the broadcast-CSR
("bcast") kernels of the triangle, level-c1, delta, four-cycle and
four-clique counts, the blocked PageRank / CC / label-propagation rounds,
and the driver-side sweeps (k-core, BFS, distances, betweenness) — is
built from the same layers, all in this module:

1. **collect + compact**: the edge list comes to the driver through
   Arrow ``toPandas``; :func:`compact_ids` maps its ids to dense int32
   codes in original-id order.
2. **CSR**: :func:`build_csr` is the one builder — ``rowptr`` int64,
   ``colind`` int32, every row sorted ascending (the reference's
   ``GRAPH_TYPE``), either symmetric or oriented by (degree, id), with an
   optional per-edge payload kept aligned with ``colind``.
3. **ship**: :func:`shipped_arrays` writes the arrays as ``.npy`` files
   and registers them with ``sc.addFile``; tasks ``np.load`` them with
   ``mmap_mode="r"``, one page-cache copy per machine instead of one
   unpickled broadcast per Python worker (a pickled 540 MB graph took 17 GB
   and a 100+ s first round at RMAT-20 on 32 workers).
4. **run**: :func:`run_slices` is the one ``mapInPandas`` shell of the
   counting kernels: one task per strided slice id ``0..fan_out-1``, each
   calling ``body(arrays, slice, k) -> int``, partials summed on the
   driver. :func:`blocked_rounds` is the iterative shell: per round each
   dst-block applies its caller's reducer and the driver applies the
   caller's update. A graph of at most :data:`EDGES_PER_BLOCK`
   symmetrized edges is one block, and its reducer runs in the driver,
   which already holds the arrays. Like the reference's in-process level
   loop (bfs.c:7-31) and its serial kernel for small inputs
   (tc.c:1844-1911), such a round pays no Spark job, no file shipping, no
   broadcast and no Python-task start-up, which together cost more than
   the gather itself. Several blocks ship the arrays once; each round then
   broadcasts the state vector and runs one task per block.
5. **in-kernel helpers**: :func:`csr_kernels` returns
   ``segment_offsets``, ``volume_chunks`` and ``pair_hits``, the gather,
   chunking and sorted pair-intersection steps the kernels share.

Pickle-by-value rule: a function that runs inside a task must not be a
module-level function of this package. cloudpickle ships those by
reference, so every worker would need the package importable. Kernels,
reducers and the helpers they call are closures (made inside a function),
which cloudpickle ships by value.

Tiering mirrors the reference's plan choice by graph statistic
(tc.c:1844-1911): these tiers run while the graph fits executor memory
(``plans/planner.py``); beyond it the shuffle tiers take over
(operators/pagerank.py etc. + plans/iterate.py), with state distributed
and one join + one aggregate per iteration.

Checkpoint/resume of :func:`blocked_rounds`: the state vector + iteration
meta are written as parquet via pyarrow every ``checkpoint_every``
iterations (atomic write-then-rename), same contract as plans/iterate.py.
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

# edges per block for work linear in its edges: a PageRank gather over 4M
# symmetrized edges is 0.1-0.2 s of numpy, below the fixed start-up cost of
# one Python task (PySpark's per-task file set-up, 0.2-0.4 s; both measured
# on a 4-vCPU machine), so finer splits only add tasks. A graph of at most
# this many symmetrized edges is one block, and blocked_rounds reduces it
# in the driver with no task at all.
EDGES_PER_BLOCK = 1 << 22


def fan_out(spark: SparkSession, edges: int | None = None) -> int:
    """Number of Python tasks for one ``mapInPandas`` fan-out, or of
    dst-blocks for a blocked round.

    ``edges=None`` is a kernel whose work grows faster than its edge count
    (wedges, two-hop gathers): it gets one full wave of
    ``defaultParallelism`` tasks — striding balances them, and more tasks
    than cores only repeat the per-task start-up. Otherwise ``edges`` is
    the symmetrized edge count of a blocked round, whose gather is linear
    in it: one block per :data:`EDGES_PER_BLOCK`, capped at one wave. A
    result of 1 starts no task: :func:`blocked_rounds` runs a one-block
    round in the driver.
    """
    wave = max(spark.sparkContext.defaultParallelism, 1)
    if edges is None:
        return wave
    return max(1, min(wave, -(-edges // EDGES_PER_BLOCK)))


def compact_ids(np, s_raw, d_raw, m_in):
    """Map raw vertex ids to compact int32 indices: ``(s, d, verts)`` with
    ``verts`` the sorted ids present, so code order is id order.

    Dense-id fast path: when ids already live in a small range (RMAT,
    relabeled graphs) the id IS the index — skips the unique/sort pass,
    which is the single biggest serial cost of the broadcast tier. Sparse
    ids (xxhash64 at 10^12 scale) take the hash-factorize path.
    """
    mx = max(int(s_raw.max(initial=0)), int(d_raw.max(initial=0))) if m_in else 0
    mn = min(int(s_raw.min(initial=0)), int(d_raw.min(initial=0))) if m_in else 0
    if m_in and mn >= 0 and mx < max(4 * 2 * m_in, 1024) and mx < 2**31:
        # small-range path: verts MUST be only the ids actually present —
        # an arange over [0, mx] fabricates phantom vertices for gaps
        # (e.g. 1-based ids never emit 0), corrupting every blocked-tier
        # consumer that outputs per-vertex rows or computes n
        present = np.zeros(mx + 1, dtype=bool)
        present[s_raw] = True
        present[d_raw] = True
        if present.all():
            verts = np.arange(mx + 1, dtype=np.int64)
            return s_raw.astype(np.int32), d_raw.astype(np.int32), verts
        rank = np.cumsum(present, dtype=np.int64) - 1  # compact rank per id
        verts = np.flatnonzero(present).astype(np.int64)
        return (
            rank[s_raw].astype(np.int32),
            rank[d_raw].astype(np.int32),
            verts,
        )
    # hash-based factorize is O(m) vs sort-based np.unique O(m log m) —
    # 8.6s -> ~1.5s on 16M sparse xxhash64 ids; then rank-remap the small
    # vertex table so compact ids remain sorted by original id
    codes, uniq = pd.factorize(np.concatenate([s_raw, d_raw]), sort=False)
    uniq = np.asarray(uniq, dtype=np.int64)
    order = np.argsort(uniq)
    rank = np.empty(len(uniq), dtype=np.int32)
    rank[order] = np.arange(len(uniq), dtype=np.int32)
    inv = rank[codes]
    return inv[:m_in], inv[m_in:], uniq[order]


def collect_compact(edges: DataFrame):
    """Collect a (src, dst) frame to the driver (Arrow ``toPandas``) and
    :func:`compact_ids` it: ``(s, d, verts)``."""
    pdf = edges.toPandas()
    return compact_ids(
        np,
        pdf["src"].to_numpy(dtype=np.int64),
        pdf["dst"].to_numpy(dtype=np.int64),
        len(pdf),
    )


def build_csr(s, d, n: int, *, oriented: bool = False, payload=None):
    """The CSR of compact edges ``(s, d)`` over ``n`` vertices:
    ``(rowptr int64, colind int32, payload)``, every row sorted ascending.

    ``oriented=False``: symmetric — each edge is stored in both rows, and
    ``payload`` (one value per input edge) is repeated for both. With
    ``oriented=True`` each edge is stored once, in the row of its lower
    endpoint under (degree, id): the degree-ordered DAG of graph.c:207-274,
    whose rows are O(√m) long. ``payload`` comes back permuted like
    ``colind`` (``None`` stays ``None``).
    """
    assert n < 2**31, "compact ids are int32"
    if oriented:
        deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
        fwd = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
        s, d = np.where(fwd, s, d), np.where(fwd, d, s)
    else:
        s, d = np.concatenate([s, d]), np.concatenate([d, s])
        if payload is not None:
            payload = np.concatenate([payload, payload])
    # (row, col) order via one composite-int64 argsort (2x over lexsort)
    key = s.astype(np.int64)
    key <<= 31
    key |= d
    order = np.argsort(key)
    del key
    rowptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(s, minlength=n), out=rowptr[1:])
    colind = d[order].astype(np.int32, copy=False)
    return rowptr, colind, None if payload is None else payload[order]


def csr_kernels():
    """``(segment_offsets, volume_chunks, pair_hits)``, the steps the
    numpy kernels share, returned as CLOSURES so a kernel that calls them
    ships them by value (see the pickle-by-value rule above)."""

    def segment_offsets(rowptr, rows):
        """Positions in ``colind`` of the CSR rows ``rows``, concatenated,
        and each row's length: ``(offs int64, lens)``."""
        starts = rowptr[rows]
        lens = rowptr[rows + 1] - starts
        ends = np.cumsum(lens)
        tot = int(ends[-1]) if len(ends) else 0
        return np.arange(tot, dtype=np.int64) - np.repeat(ends - lens - starts, lens), lens

    def volume_chunks(vol, chunk):
        """Consecutive slices of items whose summed ``vol`` reaches
        ``chunk`` by at most one item, so per-chunk temporaries stay
        bounded; an item bigger than ``chunk`` is a slice of its own."""
        cum = np.cumsum(vol)
        g0 = 0
        while g0 < len(cum):
            base = cum[g0 - 1] if g0 else 0
            g1 = min(max(int(np.searchsorted(cum, base + chunk)) + 1, g0 + 1), len(cum))
            yield slice(g0, g1)
            g0 = g1

    def pair_hits(rp, ci, u, v):
        """Common neighbours of the vertex pairs ``(u[i], v[i])``:
        ``(i, ia, ib)`` per hit, with ``ia`` / ``ib`` its positions in the
        rows of ``u[i]`` / ``v[i]``. Rows are sorted, so the composite keys
        ``(i << 31) | neighbour`` of each side are sorted too, and ONE
        searchsorted intersects every pair (the probe kernel,
        graph.c:322-351)."""
        offs_a, lu = segment_offsets(rp, u)
        offs_b, lv = segment_offsets(rp, v)
        if len(offs_a) == 0 or len(offs_b) == 0:
            none = np.empty(0, dtype=np.int64)
            return none, none, none
        loc = np.arange(len(u), dtype=np.int64)
        pair = np.repeat(loc, lu)
        key_a = (pair << 31) | ci[offs_a]
        key_b = (np.repeat(loc, lv) << 31) | ci[offs_b]
        pos = np.minimum(np.searchsorted(key_b, key_a), len(key_b) - 1)
        hit = key_b[pos] == key_a
        return pair[hit], offs_a[hit], offs_b[pos[hit]]

    return segment_offsets, volume_chunks, pair_hits


def _make_loader():
    """``load(files)``: the shipped arrays by name, mmap'd read-only
    (a closure, so tasks ship it by value)."""

    def load(files):
        from pyspark import SparkFiles  # noqa: PLC0415

        return {
            name: np.asarray(np.load(SparkFiles.get(f), mmap_mode="r"))
            for name, f in files.items()
        }

    return load


def run_slices(spark: SparkSession, files: dict[str, str], body) -> int:
    """Run ``body(arrays, slice, k) -> int`` once per slice id
    ``0..k-1`` (``k = fan_out(spark)``, one task each) over the shipped
    ``files`` and return the sum of its int64 partials.

    Kernels stride their work by slice (vertex or edge ``i`` goes to slice
    ``i % k``): contiguous ranges skew (the front groups of a clique carry
    6x the average work), striding balances power-law inputs. The k partial
    rows come back in the same job, with no aggregate stage after it.
    """
    k = fan_out(spark)
    load = _make_loader()

    def kernel(batches):
        arrays = load(files)
        total = 0
        for b in batches:
            for sl in b["id"].to_numpy():
                total += int(body(arrays, int(sl), k))
        yield pd.DataFrame({"partial": [total]})

    rows = (
        spark.range(0, k, 1, numPartitions=k)
        .mapInPandas(kernel, schema="partial long")
        .collect()
    )
    return sum(int(r["partial"]) for r in rows)


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
    """Compact + symmetrize edges into a CSR whose rows are destinations,
    cut into ``n_blocks`` dst ranges.

    edges_pdf: canonical (src < dst) undirected edge list; for
    edge_weight="weighted" it must also carry a ``weight`` column.
    edge_weight: None, "inv_outdeg" (w = 1/outdeg(src) — plain PageRank),
    or "weighted" (w = weight/Σ_out weight — weighted PageRank; out_deg
    then holds the per-vertex out-STRENGTH, still 0 ⇔ dangling).
    """
    # int32 compact ids halve the memory traffic of every later gather
    s, d, verts = compact_ids(
        np,
        edges_pdf["src"].to_numpy(dtype=np.int64),
        edges_pdf["dst"].to_numpy(dtype=np.int64),
        len(edges_pdf),
    )
    n = len(verts)
    w_half = (
        edges_pdf["weight"].to_numpy(dtype=np.float64)
        if edge_weight == "weighted"
        else None
    )
    # symmetric, so row v lists the sources whose contributions v gathers
    rowptr, src, sym_w = build_csr(s, d, n, payload=w_half)
    dst = np.repeat(np.arange(n, dtype=np.int32), np.diff(rowptr))
    out_deg = np.bincount(src, weights=sym_w, minlength=n).astype(np.float64, copy=False)
    starts = ((np.arange(n_blocks + 1, dtype=np.int64) * n) + n_blocks - 1) // max(
        n_blocks, 1
    )
    bounds = rowptr[np.minimum(starts, n)]
    weight = None
    if edge_weight == "inv_outdeg":
        weight = 1.0 / out_deg[src]
    elif edge_weight == "weighted":
        weight = sym_w / out_deg[src]
    return BlockedGraph(verts, src, dst, out_deg, n_blocks, bounds, weight)


def blocked_rounds(
    spark: SparkSession,
    g: BlockedGraph,
    state0: np.ndarray,
    reduce,
    update,
    tol: float,
    max_iter: int,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    fingerprint: str = "",
    resume: bool = True,
) -> tuple[np.ndarray, int, bool, list[dict]]:
    """Run blocked gather-scatter rounds.

    reduce(state, src, dst, weight) -> (dsts, vals): one block's gather
    over the block's dst-sorted edges (``weight`` is ``None`` for a graph
    without one). One block runs in the driver; more run one task each,
    so ``reduce`` must be a closure (shipped by value).
    update(state, dsts, vals) -> (new_state, delta), run on the driver over
    every block's rows, ``dsts`` int64 and ``vals`` float64 on both paths.
    Returns (state, iterations, converged, metrics).
    """
    import time

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

    converged = False
    with _block_gather(spark, g, reduce) as gather:
        for i in range(start_iter + 1, max_iter + 1):
            t0 = time.time()
            state, delta = update(state, *gather(state))
            m = {"iteration": i, "delta": float(delta), "sec": time.time() - t0}
            if checkpoint_dir and (i % checkpoint_every == 0 or delta <= tol):
                _write(checkpoint_dir, fingerprint, i, state, float(delta))
                m["checkpoint"] = True
            metrics.append(m)
            if delta <= tol:
                converged = True
                break
    return state, i, converged, metrics


@contextmanager
def _block_gather(spark: SparkSession, g: BlockedGraph, reduce):
    """``gather(state) -> (dsts int64, vals float64)``: every block's
    ``reduce`` rows, in block order, for the length of a with-block.

    One block (the whole graph under :data:`EDGES_PER_BLOCK`) is reduced
    in the driver, which already holds the arrays: no file shipped, no
    broadcast, no Python task. More blocks ship the arrays once and run
    one ``mapInPandas`` task per block each round, the state broadcast.
    Both paths hand the rows over in the dtypes of the task path's
    ``dst long, val double`` frame, so their rounds are bit-identical.
    """
    if g.n_blocks == 1:

        def gather(state):
            dsts, vals = reduce(state, g.src, g.dst, g.weight)
            return (
                np.asarray(dsts, dtype=np.int64),
                np.asarray(vals, dtype=np.float64),
            )

        yield gather
        return

    load = _make_loader()

    def make_round(bc_state):
        def fn(batches):
            a = load(graph_files)
            s_, d_, bounds, w_ = a["src"], a["dst"], a["bounds"], a.get("weight")
            vec = bc_state.value
            for b in batches:
                for blk in b["id"].to_numpy():
                    lo, hi = bounds[blk], bounds[blk + 1]
                    if hi > lo:
                        dsts, vals = reduce(
                            vec, s_[lo:hi], d_[lo:hi], None if w_ is None else w_[lo:hi]
                        )
                        yield pd.DataFrame({"dst": dsts, "val": vals})

        return fn

    # one slice id per partition (numPartitions=n_blocks) — NO repartition:
    # an AQE shuffle here costs ~0.7 s per iteration for nothing
    slices = spark.range(0, g.n_blocks, 1, numPartitions=g.n_blocks)

    def gather(state):
        bc_state = spark.sparkContext.broadcast(state)
        pdf = slices.mapInPandas(
            make_round(bc_state), schema="dst long, val double"
        ).toPandas()
        bc_state.destroy()
        return (
            pdf["dst"].to_numpy(dtype=np.int64),
            pdf["val"].to_numpy(dtype=np.float64),
        )

    with shipped_arrays(
        spark,
        {
            "src": g.src,
            "dst": g.dst,
            "bounds": g.block_bounds,
            **({"weight": g.weight} if g.weight is not None else {}),
        },
    ) as graph_files:
        yield gather


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
