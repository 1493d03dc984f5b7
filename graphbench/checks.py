"""Answers for the four graph queries, computed with numpy alone.

Nothing here imports the engine: these are the references the benchmark
compares every engine answer against. Inputs are canonical undirected
edge arrays (``src < dst``, distinct, no self-loops) of int64 vertex ids.
Each check function returns ``None`` when the engine's answer is right
and a one-line reason when it is wrong.
"""

from __future__ import annotations

import numpy as np

DAMPING = 0.85


def compact(src: np.ndarray, dst: np.ndarray, vertices=()):
    """(verts, s, d): sorted distinct vertex ids (edge endpoints plus any
    ``vertices``, which may be isolated) and the edges as indexes."""
    verts = np.unique(np.concatenate([src, dst, np.asarray(vertices, dtype=np.int64)]))
    return verts, np.searchsorted(verts, src), np.searchsorted(verts, dst)


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Exact triangle count: orient each edge from lower to higher
    (degree, index), then close every oriented wedge u→v→w by a sorted-key
    lookup of u→w. Each triangle has exactly one such wedge."""
    verts, s, d = compact(src, dst)
    n = len(verts)
    if n == 0:
        return 0
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    fwd = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
    u, v = np.where(fwd, s, d), np.where(fwd, d, s)
    keys = np.sort(u * n + v)
    u, v = keys // n, keys % n
    rowptr = np.zeros(n + 1, dtype=np.int64)
    rowptr[1:] = np.cumsum(np.bincount(u, minlength=n))
    total = 0
    # wedges in chunks of edges so memory stays bounded on hub-heavy graphs
    lens_all = rowptr[v + 1] - rowptr[v]
    bounds = np.searchsorted(np.cumsum(lens_all), np.arange(1, 64) * 2_000_000)
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(v)]):
        lens = lens_all[lo:hi]
        tot = int(lens.sum())
        if tot == 0:
            continue
        starts = np.repeat(rowptr[v[lo:hi]], lens)
        offs = np.arange(tot) - np.repeat(np.cumsum(lens) - lens, lens) + starts
        w = v[offs]
        probe = np.repeat(u[lo:hi], lens) * n + w
        at = np.searchsorted(keys, probe)
        at[at == len(keys)] = 0
        total += int(np.count_nonzero(keys[at] == probe))
    return total


def components(src: np.ndarray, dst: np.ndarray, vertices=()):
    """(verts, label): union-find by hooking the larger root under the
    smaller one, with full path compression after each sweep. Each
    component's label is its minimum vertex id."""
    verts, s, d = compact(src, dst, vertices)
    parent = np.arange(len(verts))
    while True:
        rs, rd = parent[s], parent[d]
        hi, lo = np.maximum(rs, rd), np.minimum(rs, rd)
        if not np.any(hi != lo):
            break
        np.minimum.at(parent, hi, lo)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    return verts, verts[parent]


def pagerank(
    src: np.ndarray, dst: np.ndarray, vertices=(), tol: float = 1e-6, max_iter: int = 100
):
    """(verts, rank): power iteration on the undirected graph with damping
    0.85 and uniform teleport, from 1/n, until max |Δrank| <= tol. The
    rank of isolated vertices (no out-edges) is spread uniformly."""
    verts, s, d = compact(src, dst, vertices)
    n = len(verts)
    a, b = np.concatenate([s, d]), np.concatenate([d, s])
    outdeg = np.bincount(a, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        gathered = np.bincount(b, weights=rank[a] / outdeg[a], minlength=n)
        new = (1.0 - DAMPING) / n + DAMPING * (gathered + rank[dangling].sum() / n)
        delta = np.abs(new - rank).max()
        rank = new
        if delta <= tol:
            break
    return verts, rank


def label_propagation(src: np.ndarray, dst: np.ndarray, rounds: int, vertices=()):
    """(verts, label) after ``rounds`` synchronous votes (fewer if a round
    changes nothing). Each vertex takes the label most common among its
    neighbours; a tie goes to the smallest label. Isolated vertices keep
    their own."""
    verts, s, d = compact(src, dst, vertices)
    n = len(verts)
    a, b = np.concatenate([s, d]), np.concatenate([d, s])
    label = np.arange(n)
    for _ in range(rounds):
        votes = b * n + label[a]  # one key per (vertex, neighbour label)
        keys, counts = np.unique(votes, return_counts=True)
        who, lab = keys // n, keys % n
        # per vertex: highest count first, then smallest label
        order = np.lexsort((lab, -counts, who))
        who, lab = who[order], lab[order]
        first = np.r_[True, who[1:] != who[:-1]]
        new = label.copy()
        new[who[first]] = lab[first]
        if np.array_equal(new, label):
            break
        label = new
    return verts, verts[label]


# --------------------------------------------------------------- comparisons


def _as_map(v: np.ndarray, x: np.ndarray):
    order = np.argsort(v, kind="stable")
    return v[order], x[order]


def same_labels(want_v, want_x, got_v, got_x, what: str) -> str | None:
    """Exact per-vertex equality over the same vertex set."""
    wv, wx = _as_map(np.asarray(want_v), np.asarray(want_x))
    gv, gx = _as_map(np.asarray(got_v, dtype=np.int64), np.asarray(got_x))
    if len(gv) != len(wv) or not np.array_equal(gv, wv):
        return f"{what}: {len(gv)} vertices, want {len(wv)}"
    bad = np.count_nonzero(gx != wx)
    return f"{what}: {bad} of {len(wv)} vertices differ" if bad else None


def close_ranks(want_v, want_r, got_v, got_r, atol: float = 1e-6) -> str | None:
    """PageRank agreement: same vertices, allclose to ``atol``, sum 1."""
    wv, wr = _as_map(np.asarray(want_v), np.asarray(want_r, dtype=np.float64))
    gv, gr = _as_map(np.asarray(got_v, dtype=np.int64), np.asarray(got_r, dtype=np.float64))
    if len(gv) != len(wv) or not np.array_equal(gv, wv):
        return f"pagerank: {len(gv)} vertices, want {len(wv)}"
    if not np.allclose(gr, wr, rtol=0.0, atol=atol):
        return f"pagerank: max |diff| {np.abs(gr - wr).max():.3g} > {atol}"
    if abs(gr.sum() - 1.0) > atol:
        return f"pagerank: ranks sum to {gr.sum():.9f}"
    return None


def same_edges(want_src, want_dst, got_src, got_dst) -> str | None:
    """The derived edge table equals the expected canonical edge set."""
    got_src = np.asarray(got_src, dtype=np.int64)
    got_dst = np.asarray(got_dst, dtype=np.int64)
    if np.any(got_src >= got_dst):
        return "derive: an edge has src >= dst"
    w = np.lexsort((want_dst, want_src))
    g = np.lexsort((got_dst, got_src))
    if len(g) != len(w):
        return f"derive: {len(g)} edges, want {len(w)}"
    if not (
        np.array_equal(got_src[g], want_src[w]) and np.array_equal(got_dst[g], want_dst[w])
    ):
        return "derive: edge set differs"
    return None


class Truth:
    """The answers one input must give; subclasses add the other checks."""

    triangles: int

    def check_triangles(self, t: int) -> str | None:
        return None if t == self.triangles else f"triangles: {t}, want {self.triangles}"


# ---------------------------------------------------- closed forms for cliques


class CliqueTruth(Truth):
    """Answers for a graph of disjoint cliques, one per repo, from the
    repos' vertex ids alone: Σ C(k,2) edges and Σ C(k,3) triangles; one
    component per repo of two or more files, labelled by its minimum id;
    every PageRank value 1/n (each component is regular); after two or
    more synchronous label-propagation rounds one label per repo (its
    minimum id) for repos of three or more files. A two-file repo's pair
    swaps labels every round, so the generators never make one."""

    def __init__(self, repo_vertex_ids: list[np.ndarray]):
        groups = [np.sort(np.asarray(g, dtype=np.int64)) for g in repo_vertex_ids]
        groups = [g for g in groups if len(g) >= 2]
        k = np.array([len(g) for g in groups], dtype=np.int64)
        self.edges = int((k * (k - 1) // 2).sum())
        self.triangles = int((k * (k - 1) * (k - 2) // 6).sum())
        self.verts = np.concatenate(groups) if groups else np.zeros(0, np.int64)
        self.group_min = np.repeat([g[0] for g in groups], k).astype(np.int64)
        self.group_of = np.repeat(np.arange(len(groups)), k)
        self.min_size = int(k.min()) if len(k) else 0

    def check_edges(self, src, dst) -> str | None:
        src = np.asarray(src, dtype=np.int64)
        dst = np.asarray(dst, dtype=np.int64)
        if len(src) != self.edges:
            return f"derive: {len(src)} edges, want {self.edges}"
        if np.any(src >= dst):
            return "derive: an edge has src >= dst"
        order = np.argsort(self.verts)
        sv = self.verts[order]
        gs, gd = np.searchsorted(sv, src), np.searchsorted(sv, dst)
        gs[gs == len(sv)] = 0
        gd[gd == len(sv)] = 0
        if not (np.array_equal(sv[gs], src) and np.array_equal(sv[gd], dst)):
            return "derive: an edge endpoint is not a file of a repo"
        grp = self.group_of[order]
        if np.any(grp[gs] != grp[gd]):
            return "derive: an edge joins two repos"
        if len(np.unique(gs * len(sv) + gd)) != len(src):
            return "derive: duplicate edges"
        return None

    def check_components(self, v, label) -> str | None:
        return same_labels(self.verts, self.group_min, v, label, "components")

    def check_pagerank(self, v, rank) -> str | None:
        n = len(self.verts)
        return close_ranks(self.verts, np.full(n, 1.0 / n), v, rank, atol=1e-9)

    def check_label_propagation(self, v, label) -> str | None:
        if self.min_size < 3:
            raise ValueError("a two-file repo's labels alternate every round")
        return same_labels(self.verts, self.group_min, v, label, "label_propagation")


class EdgeListTruth(Truth):
    """Answers for any canonical edge list, from the reference functions
    above: the edge set itself, the triangle count, min-id components,
    PageRank to max |Δrank| <= 1e-6 and ``lp_rounds`` label-propagation
    rounds."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, lp_rounds: int):
        self.src, self.dst = np.asarray(src, np.int64), np.asarray(dst, np.int64)
        self.edges = len(self.src)
        self.triangles = triangles(self.src, self.dst)
        self.cc = components(self.src, self.dst)
        self.pr = pagerank(self.src, self.dst)
        self.lp = label_propagation(self.src, self.dst, lp_rounds)

    def check_edges(self, src, dst) -> str | None:
        return same_edges(self.src, self.dst, src, dst)

    def check_components(self, v, label) -> str | None:
        return same_labels(*self.cc, v, label, "components")

    def check_pagerank(self, v, rank) -> str | None:
        return close_ranks(*self.pr, v, rank)

    def check_label_propagation(self, v, label) -> str | None:
        return same_labels(*self.lp, v, label, "label_propagation")
