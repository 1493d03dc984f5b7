"""Round-2 additions: triangle planner, "part" strategy, vectorized
kernel internals, blocked embedding near-dup."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import TINY, make_edges


def test_part_strategy_on_tiny_graphs(spark):
    from triangle_counting_spark.operators.triangles import triangle_count

    for name, (pairs, want, _) in TINY.items():
        e = make_edges(spark, pairs)
        got = triangle_count(e, "part").collect()[0]["triangles"]
        assert got == want, (name, got, want)


def test_part_matches_sql_on_rmat(spark):
    from triangle_counting_spark.operators.triangles import triangle_count
    from triangle_counting_spark.sources.rmat import rmat_edges

    e = rmat_edges(spark, scale=10, num_partitions=4)
    a = triangle_count(e, "part").collect()[0]["triangles"]
    b = triangle_count(e, "sql").collect()[0]["triangles"]
    assert a == b


def test_batch_keys_sparse_and_dense_ids():
    import pandas as pd

    from triangle_counting_spark.operators.triangles import _batch_keys

    # dense path (< 2^31)
    pdf = pd.DataFrame(
        {
            "nbrs_src": [np.array([1, 2, 3]), np.array([5])],
            "nbrs_dst": [np.array([2, 3, 4]), np.array([5, 6])],
        }
    )
    ka, kb = _batch_keys(np, pdf)
    comb = np.concatenate([ka, kb])
    comb.sort()
    assert int(np.count_nonzero(comb[1:] == comb[:-1])) == 3  # {2,3} + {5}
    # sparse path (values >= 2^31 force compaction)
    big = 2**40
    pdf2 = pd.DataFrame(
        {
            "nbrs_src": [np.array([big + 1, big + 2])],
            "nbrs_dst": [np.array([big + 2, big + 3])],
        }
    )
    ka2, kb2 = _batch_keys(np, pdf2)
    comb2 = np.concatenate([ka2, kb2])
    comb2.sort()
    assert int(np.count_nonzero(comb2[1:] == comb2[:-1])) == 1


# ---------------------------------------------------------------- planner


def test_planner_small_graph_sql(spark):
    from triangle_counting_spark.plans.planner import choose_triangle_strategy

    e = make_edges(spark, TINY["K5"][0])
    c = choose_triangle_strategy(e)
    assert c.strategy == "sql" and c.k is None


def test_planner_bcast_tier(spark):
    from triangle_counting_spark.plans.planner import choose_triangle_strategy

    e = make_edges(spark, TINY["K5"][0])
    c = choose_triangle_strategy(e, small_edges=2, bcast_max=10**7)
    assert c.strategy == "bcast"


def test_planner_beyond_memory_always_part(spark):
    """Round 4: beyond the memory cutoff, auto never gambles on the
    level split (its G1 wedge join exhausted shuffle disk at RMAT-22) —
    it always takes the bounded-replication part tier, and skips the
    BFS the k statistic would cost."""
    from triangle_counting_spark.plans.planner import choose_triangle_strategy

    path = [(i, i + 1) for i in range(12)]  # k=0: old hybrid chose level
    c = choose_triangle_strategy(make_edges(spark, path), small_edges=1, bcast_max=1)
    assert c.strategy == "part" and c.k is None


# ------------------------------------------------------- embedding neardup


def test_embedding_neardup_blocked_equals_allpairs(spark):
    from triangle_counting_spark.functions.similarity import embedding_neardup_pairs

    rng = np.random.default_rng(7)
    base = rng.standard_normal((30, 16))
    rows = []
    vid = 0
    for i in range(30):
        rows.append((vid, base[i].tolist()))
        vid += 1
        if i % 3 == 0:  # planted near-dup
            rows.append((vid, (base[i] + 0.05 * rng.standard_normal(16)).tolist()))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_neardup_pairs(emb, 0.8).collect()
    }
    b = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_neardup_pairs(emb, 0.8, method="allpairs").collect()
    }
    assert a == b and len(a) >= 10


def test_embedding_neardup_plan_has_no_cartesian(spark):
    from triangle_counting_spark.functions.similarity import embedding_neardup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    plan = embedding_neardup_pairs(emb, 0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_simhash_md5_neardup_finds_exact_dups(spark):
    from triangle_counting_spark.functions.dedup import simhash_neardup_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),  # exact dup of 1 → hamming 0
            (3, "totally different words here entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(
            docs, "text", "doc_id", max_hamming=3, bits=60, hash_fn="md5"
        ).collect()
    }
    assert (1, 2, 0) in got


def test_simhash_blocks_scale_with_max_hamming(spark):
    """Pigeonhole completeness for max_hamming beyond 3 (the r1 gap):
    blocks = max_hamming+1, so distance-5 pairs are guaranteed found."""
    from triangle_counting_spark.functions.dedup import (
        _pigeonhole_blocks,
        simhash,
        simhash_neardup_pairs,
    )

    spans = _pigeonhole_blocks(64, 6)
    assert sum(w for _, w in spans) == 64 and len(spans) == 6
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "q r s t u v w y")],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in simhash(docs, "text", "doc_id").collect()}
    d12 = bin(sh[1] ^ sh[2]).count("1")
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=d12).collect()
    }
    assert (1, 2) in pairs
