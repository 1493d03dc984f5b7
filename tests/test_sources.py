from __future__ import annotations

import math

from pyspark.sql import functions as F

from triangle_counting_spark.operators.triangles import triangle_count
from triangle_counting_spark.sources.edges import (
    cooccurrence_edges,
    file_cooccurrence_edges,
    file_vertices,
    sha256_audit,
)
from triangle_counting_spark.sources.files import synthetic_files
from triangle_counting_spark.sources.mtx import read_mtx
from triangle_counting_spark.sources.rmat import rmat_edges


def test_mtx_reader_semantics(spark, tmp_path):
    # FIXTURES.md §5: comments, 1-indexed, duplicate + reversed entries
    p = tmp_path / "tri.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate pattern symmetric\n"
        "% a comment\n"
        "3 3 5\n"
        "1 2\n1 2\n2 1\n2 3\n1 3\n"
    )
    edges = read_mtx(spark, str(p))
    got = sorted((r.src, r.dst) for r in edges.collect())
    assert got == [(0, 1), (0, 2), (1, 2)]
    assert triangle_count(edges, "sql").collect()[0]["triangles"] == 1


def test_mtx_rejects_nonsquare(spark, tmp_path):
    p = tmp_path / "bad.mtx"
    p.write_text("2 3 1\n1 2\n")
    try:
        read_mtx(spark, str(p))
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_rmat_deterministic_and_shaped(spark):
    e1 = rmat_edges(spark, scale=8, num_partitions=4)
    e2 = rmat_edges(spark, scale=8, num_partitions=4)
    s1 = sorted((r.src, r.dst) for r in e1.collect())
    s2 = sorted((r.src, r.dst) for r in e2.collect())
    assert s1 == s2  # deterministic
    assert len(s1) == 16 * 256  # m = edge_factor * 2^scale exactly
    assert all(0 <= a < b < 256 for a, b in s1)  # canonical, in range


def test_files_closed_form_triangles(spark):
    """FIXTURES.md §1: per-repo cliques → triangles = Σ C(k_repo, 3)."""
    files = synthetic_files(spark, n_files=400, n_repos=12).cache()
    sizes = [r["cnt"] for r in files.groupBy("repo").agg(F.count("*").alias("cnt")).collect()]
    want = sum(math.comb(k, 3) for k in sizes)
    edges = file_cooccurrence_edges(files)
    got = triangle_count(edges, "bcast").collect()[0]["triangles"]
    assert got == want
    # edge count closed form too
    assert edges.count() == sum(math.comb(k, 2) for k in sizes)


def test_files_skew_capping(spark):
    files = synthetic_files(spark, n_files=400, n_repos=12)
    sizes = {r["repo"]: r["cnt"] for r in files.groupBy("repo").agg(F.count("*").alias("cnt")).collect()}
    cap = 50
    capped = file_cooccurrence_edges(files, max_repo_files=cap)
    want = sum(math.comb(k, 2) for k in sizes.values() if k <= cap)
    assert capped.count() == want


def test_sha256_audit(spark):
    files = synthetic_files(spark, n_files=200, n_repos=8).cache()
    verts = file_vertices(files)
    assert sha256_audit(files, verts).count() == 0
    # corrupt one row → exactly one violation
    bad = verts.withColumn(
        "content_sha256",
        F.when(F.col("path").contains("file_000001"), F.lit("deadbeef")).otherwise(
            F.col("content_sha256")
        ),
    )
    assert sha256_audit(files, bad).count() >= 1


def test_cooccurrence_from_lineitem(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    e = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    rows = e.collect()
    assert all(r.src < r.dst for r in rows)
    assert len(rows) == len({(r.src, r.dst) for r in rows})


def test_strategies_agree_on_rmat(spark):
    """The reference's N-version methodology (main.c:433-435): every
    strategy must agree exactly on a skewed random graph."""
    e = rmat_edges(spark, scale=7, num_partitions=4).cache()
    counts = {
        s: triangle_count(e, s).collect()[0]["triangles"]
        for s in ("sql", "join", "merge", "probe", "bcast", "level")
    }
    assert len(set(counts.values())) == 1, counts


def _inverse_cdf_repos(spark, n_files, n_repos, seed, zipf_exponent=1.2):
    """Pure-Python inverse CDF over the generator's per-row uniform:
    the first repo r with u < cum[r], else the last repo."""
    weights = [1.0 / (r + 1) ** zipf_exponent for r in range(n_repos)]
    total, acc, cum = sum(weights), 0.0, []
    for w in weights:
        acc += w / total
        cum.append(acc)
    u = spark.range(n_files).select(
        "id", (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0).alias("u")
    )
    out = {}
    for r in u.collect():
        out[r["id"]] = next((i for i, c in enumerate(cum) if r["u"] < c), n_repos - 1)
    return out


def test_files_repo_assignment_matches_inverse_cdf(spark):
    for n_files, n_repos, seed in ((300, 20, 7), (60, 20, 99), (400, 12, 42), (200, 8, 42)):
        want = _inverse_cdf_repos(spark, n_files, n_repos, seed)
        got = {
            int(r["path"].split("file_")[1].split(".")[0]): int(r["repo"].split("-")[1])
            for r in synthetic_files(spark, n_files, n_repos, seed).select("repo", "path").collect()
        }
        assert got == want, (n_files, n_repos, seed)


def test_files_thousand_repos(spark):
    """One constant-depth expression assigns repos: 1,000 repos build and
    count (a nested CASE per repo overflowed the analyzer's stack)."""
    files = synthetic_files(spark, 30000, 1000)
    assert files.count() == 30000
    repos = files.select("repo").distinct().count()
    assert 100 < repos <= 1000
