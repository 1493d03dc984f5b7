"""The broadcast-CSR substrate's builders and in-kernel helpers, without
Spark: ``compact_ids`` → ``build_csr`` on the FIXTURES.md graphs, and the
``csr_kernels`` gather / chunk / intersection steps."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import TINY
from triangle_counting_spark.plans.blocked import build_csr, compact_ids, csr_kernels


def _compact(pairs):
    s = np.array([a for a, _ in pairs], dtype=np.int64)
    d = np.array([b for _, b in pairs], dtype=np.int64)
    return compact_ids(np, s, d, len(s))


def _rows(rowptr, colind):
    return [colind[rowptr[v] : rowptr[v + 1]].tolist() for v in range(len(rowptr) - 1)]


@pytest.mark.parametrize("name", sorted(TINY))
def test_symmetric_csr_rows_sorted(name):
    pairs = TINY[name][0]
    s, d, verts = _compact(pairs)
    rowptr, colind, payload = build_csr(s, d, len(verts))
    assert rowptr.dtype == np.int64 and colind.dtype == np.int32
    assert payload is None
    assert rowptr[0] == 0 and rowptr[-1] == 2 * len(pairs)
    want = {v: set() for v in range(len(verts))}
    for a, b in zip(s.tolist(), d.tolist()):
        want[a].add(b)
        want[b].add(a)
    assert _rows(rowptr, colind) == [sorted(want[v]) for v in range(len(verts))]


@pytest.mark.parametrize("name", sorted(TINY))
def test_oriented_csr_holds_each_edge_once_from_its_lower_end(name):
    pairs = TINY[name][0]
    s, d, verts = _compact(pairs)
    n = len(verts)
    rowptr, colind, _ = build_csr(s, d, n, oriented=True)
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    rows = _rows(rowptr, colind)
    assert all(r == sorted(r) for r in rows)
    stored = sorted((v, w) for v in range(n) for w in rows[v])
    assert len(stored) == len(pairs)
    for v, w in stored:
        assert (deg[v], v) < (deg[w], w)
    assert stored == sorted(
        min((a, b), (b, a), key=lambda e: (deg[e[0]], e[0]))
        for a, b in zip(s.tolist(), d.tolist())
    )


@pytest.mark.parametrize("oriented", [False, True])
@pytest.mark.parametrize("name", sorted(TINY))
def test_payload_stays_aligned_with_colind(name, oriented):
    pairs = TINY[name][0]
    s, d, verts = _compact(pairs)
    edge_id = np.arange(len(s), dtype=np.int64) + 100
    rowptr, colind, payload = build_csr(
        s, d, len(verts), oriented=oriented, payload=edge_id
    )
    assert len(payload) == len(colind)
    ends = {i + 100: {int(a), int(b)} for i, (a, b) in enumerate(zip(s, d))}
    for v in range(len(verts)):
        for pos in range(rowptr[v], rowptr[v + 1]):
            assert ends[int(payload[pos])] == {v, int(colind[pos])}


def test_csr_n_covers_vertices_without_edges():
    """``n`` may exceed the edges' ids: trailing rows are empty."""
    s, d = np.array([0, 1], dtype=np.int32), np.array([1, 2], dtype=np.int32)
    rowptr, colind, _ = build_csr(s, d, 5)
    assert rowptr.tolist() == [0, 1, 3, 4, 4, 4]
    assert colind.tolist() == [1, 0, 2, 1]


def test_kernel_helpers():
    segment_offsets, volume_chunks, pair_hits = csr_kernels()
    # K4 minus the edge {2, 3}
    s = np.array([0, 0, 0, 1, 1], dtype=np.int32)
    d = np.array([1, 2, 3, 2, 3], dtype=np.int32)
    rp, ci, _ = build_csr(s, d, 4)
    offs, lens = segment_offsets(rp, np.array([2, 0]))
    assert lens.tolist() == [2, 3]
    assert ci[offs].tolist() == [0, 1, 1, 2, 3]
    assert len(segment_offsets(rp, np.array([], dtype=np.int64))[0]) == 0
    pair, ia, ib = pair_hits(rp, ci, np.array([0, 2]), np.array([1, 3]))
    assert pair.tolist() == [0, 0, 1, 1]  # N(0)∩N(1) = {2, 3}; N(2)∩N(3) = {0, 1}
    assert (ci[ia] == ci[ib]).all() and ci[ia].tolist() == [2, 3, 0, 1]
    chunks = list(volume_chunks(np.array([3, 3, 3, 10, 1]), 5))
    assert [(c.start, c.stop) for c in chunks] == [(0, 2), (2, 4), (4, 5)]
    assert list(volume_chunks(np.array([], dtype=np.int64), 5)) == []
