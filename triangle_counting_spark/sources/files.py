"""Deterministic synthetic source-code files table (FIXTURES.md §1).

Stand-in for the 10^12-file Iceberg table (repo, path, commit, lang,
content) — generated distributed (spark.range + JVM-side hash arithmetic,
no Python in the loop), Zipf-skewed repo sizes so a few giant repos
exercise the skew path, fully deterministic from (n_files, n_repos, seed).

No external data; content is pseudo-code text derived from the row id, so
sha256(content) is reproducible everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ("py", "c", "java", "go", "md")


def synthetic_files(
    spark: SparkSession,
    n_files: int = 1000,
    n_repos: int = 50,
    seed: int = 42,
    zipf_exponent: float = 1.2,
) -> DataFrame:
    """One row per file. Repo assignment ~ Zipf(zipf_exponent): repo r gets
    a share ∝ 1/(r+1)^s, implemented by inverse-CDF over a deterministic
    per-row uniform hash — all JVM expressions, scales to any n_files.
    """
    # cumulative Zipf weights, small (n_repos entries) → literal map is fine
    weights = [1.0 / (r + 1) ** zipf_exponent for r in range(n_repos)]
    total = sum(weights)
    cum = []
    acc = 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    # repo = the first r with u < cum[r] = #{r : cum[r] <= u} (cum is
    # sorted), capped at the last repo: one constant-depth expression over
    # a literal array, where a nested CASE per repo overflowed the
    # analyzer's stack at 1,000 repos
    u = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0
    below = F.filter(F.array(*[F.lit(c) for c in cum]), lambda c: c <= u)
    df = spark.range(n_files).select(
        "id", F.least(F.lit(n_repos - 1), F.size(below)).alias("_repo")
    )
    expr = F.col("_repo")
    h = F.xxhash64(F.col("id"), F.lit(seed + 1))
    return df.select(
        F.format_string("org/repo-%04d", expr).alias("repo"),
        F.format_string(
            "src/module_%02d/file_%06d.%s",
            F.pmod(h, F.lit(97)),
            F.col("id"),
            F.element_at(
                F.array(*[F.lit(x) for x in LANGS]),
                (F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 2)), F.lit(len(LANGS))) + 1).cast(
                    "int"
                ),
            ),
        ).alias("path"),
        F.lower(F.sha2(F.concat(F.lit("commit"), expr.cast("string")), 256)).substr(1, 40).alias(
            "commit"
        ),
        F.element_at(
            F.array(*[F.lit(x) for x in LANGS]),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 2)), F.lit(len(LANGS))) + 1).cast("int"),
        ).alias("lang"),
        F.format_string(
            "def fn_%d():\n    return %d  # deterministic body\n",
            F.col("id"),
            F.pmod(h, F.lit(10_000)),
        ).alias("content"),
    )


def skew_fixture(
    spark: SparkSession, mega_files: int = 2000, small_repos: int = 500
) -> DataFrame:
    """FIXTURES.md §6: one mega-repo with ``mega_files`` files + 500 repos
    of 3 files. Default expected triangles = C(2000,3) + 500 =
    1,331,334,500; use mega_files>=3000 (C(3000,3)+500 = 4,495,501,500)
    to exceed uint32 and prove 64-bit counters (the reference's UINT_t
    would overflow there, SURVEY.md §1.4)."""
    mega = spark.range(mega_files).select(
        F.lit("org/mega").alias("repo"),
        F.format_string("f_%04d.py", F.col("id")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("py").alias("lang"),
        F.format_string("x=%d", F.col("id")).alias("content"),
    )
    small = spark.range(3 * small_repos).select(
        F.format_string("org/small-%04d", (F.col("id") / 3).cast("long")).alias("repo"),
        F.format_string("g_%04d.py", F.col("id")).alias("path"),
        F.lit("1" * 40).alias("commit"),
        F.lit("py").alias("lang"),
        F.format_string("y=%d", F.col("id")).alias("content"),
    )
    return mega.union(small)
