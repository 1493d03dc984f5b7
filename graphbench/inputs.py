"""Seeded inputs for the benchmark workloads, made with numpy alone.

The repo sizes follow a Zipf curve that is the same for every seed, so the
graph's shape (edges, triangles, rounds) and with it the cost of a run does
not move with the seed; the seed decides the repo and file names, and so
the xxhash64 vertex ids and their layout in every partition and CSR row.
The R-MAT edge list is drawn from the seed with the reference generator's
quadrant probabilities and kept at exactly ``edge_factor * 2**scale``
distinct edges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = np.array(["py", "c", "java", "go", "md"])
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19  # d = 0.05


def repo_sizes(n_repos: int, max_files: int, exponent: float, min_files: int = 3) -> np.ndarray:
    """Files per repo: ``max_files / (rank + 1) ** exponent``, at least
    ``min_files``. A two-file repo's labels would alternate every
    synchronous label-propagation round, so the floor is three."""
    r = np.arange(n_repos)
    return np.maximum(min_files, (max_files / (r + 1) ** exponent).astype(np.int64))


def files_table(sizes: np.ndarray, seed: int) -> pd.DataFrame:
    """The source-files table (repo, path, commit, lang, content), one row
    per file, repos in a seeded order. Paths are unique within a repo."""
    rng = np.random.default_rng(seed)
    sizes = sizes[rng.permutation(len(sizes))]
    n = int(sizes.sum())
    repo_of = np.repeat(np.arange(len(sizes)), sizes)
    tags = rng.integers(0, 1 << 32, size=len(sizes))
    repos = np.array([f"org-{t:08x}/repo-{i:04d}" for i, t in enumerate(tags)])
    commits = np.array([f"{c:040x}" for c in rng.integers(0, 1 << 62, size=len(sizes))])
    langs = LANGS[rng.integers(0, len(LANGS), size=n)]
    module = rng.integers(0, 97, size=n)
    body = rng.integers(0, 10_000, size=n)
    paths = [f"src/module_{module[i]:02d}/file_{i:06d}.{langs[i]}" for i in range(n)]
    content = [f"def fn_{i}():\n    return {body[i]}\n" for i in range(n)]
    return pd.DataFrame(
        {
            "repo": repos[repo_of],
            "path": paths,
            "commit": commits[repo_of],
            "lang": langs,
            "content": content,
        }
    )


def rmat_edges(scale: int, edge_factor: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Canonical (src < dst) R-MAT edges, sorted: the first
    ``edge_factor * 2**scale`` distinct non-loop edges the seeded sampler
    draws."""
    rng = np.random.default_rng(seed)
    n = 1 << scale
    m = edge_factor * n
    pow2 = (1 << np.arange(scale, dtype=np.int64))[::-1]
    drawn = np.zeros(0, dtype=np.int64)
    while True:
        u = rng.random((m, scale))
        s = (u >= RMAT_A + RMAT_B).astype(np.int64) @ pow2
        d = (((u >= RMAT_A) & (u < RMAT_A + RMAT_B)) | (u >= RMAT_A + RMAT_B + RMAT_C)).astype(
            np.int64
        ) @ pow2
        keep = s != d
        lo, hi = np.minimum(s, d)[keep], np.maximum(s, d)[keep]
        drawn = np.concatenate([drawn, lo * n + hi])
        _, first = np.unique(drawn, return_index=True)
        if len(first) >= m:
            keys = np.sort(drawn[np.sort(first)[:m]])
            return keys // n, keys % n
