"""Statistic-driven strategy selection — the reference's hybrid planner.

tc_bader_hybrid (tc.c:1844-1911) computes one graph statistic and makes
one plan choice in one place: ``m < 100000 || k > 0.7 →
tc_forward_hash_degreeOrder else tc_bader`` (tc.c:1904), with a
100k-edge recursion base (tc.h:43). Our planner is the DataFrame-level
analog over the engine's physical strategies, with one Spark-specific
tier the reference doesn't need: the broadcast-CSR cutover (a single
shared-memory node always "fits" in the reference; on a cluster,
fitting executor memory is THE plan-changing statistic).

Triangle ladder (:func:`choose_triangle_strategy`; the memory statistic
is the canonical edge count m, one count job unless the caller knows m):

1. m < small_edges (default 100k, tc.h:43)  → "sql"   (one codegen'd plan,
   no Python workers to spin up)
2. m <= bcast_max (memory-derived, :func:`bcast_max_edges`) → "bcast"
   (zero-shuffle broadcast-CSR kernel)
3. otherwise → "part" (co-grouped CSR blocks — the degree-ordered
   forward-hash analog at shuffle scale)

Auto never takes the reference's k statistic (the BFS-horizontal edge
fraction, tc.c:1120-1159): the level-partitioned plan ("level", the
tc_bader family) runs only when a caller asks for it by name.

Iterative tier (:func:`plan_tier`, the one place every operator's
``tier`` argument is resolved): "blocked" (CSR in memory) while m fits
the same cutoff, else "shuffle".

Spark's AQE then handles the *physical* runtime analogs (broadcast-vs-
shuffle joins, skew split) inside whichever plan is chosen.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..operators.orientation import canonical_edges

SMALL_GRAPH_EDGES = 100_000  # the reference's recursion/hybrid base, tc.h:43
BCAST_MAX_EDGES = 20_000_000  # conservative FLOOR: CSR ≈ 16 B/edge → ~330 MB
BCAST_HARD_CAP_EDGES = 256_000_000  # ~4 GB CSR — past this, always shuffle


def bcast_max_edges(spark) -> int:
    """Memory-derived broadcast-tier cutoff, the honest cluster model: the
    CSR must fit the smallest executor, so the cutoff is a budget fraction
    of available memory over 16 B/edge — not a fixed magic number (r3:
    RMAT-21 measured bcast 2.0x faster than the shuffled "part" tier, but
    a fixed 20M-edge cutoff routed it away from bcast on a 128 GiB box).

    Resolution order: explicit ``spark.tcs.bcastMaxEdges`` conf override
    (malformed values raise — a silently ignored safety cap is worse than
    no cap — and so does a value above :data:`BCAST_HARD_CAP_EDGES`: the
    broadcast tiers pack compact ids into 31 bits and ship int32
    ``colind`` arrays, which a bigger graph would overflow silently) →
    10% of min(driver JVM max heap, ``spark.executor.memory``
    when set) / 16 B, clamped to [20M floor, 256M hard cap]. The executor
    term matters in client mode: a 64 GB driver next to 4 GB executors
    must NOT size executor broadcasts from the driver's heap.
    """
    try:
        override = spark.conf.get("spark.tcs.bcastMaxEdges", None)
    except Exception:  # noqa: BLE001 — connect mode without conf access
        override = None
    if override is not None:
        cap = int(override)  # ValueError on garbage, deliberately loud
        if cap > BCAST_HARD_CAP_EDGES:
            raise ValueError(
                f"spark.tcs.bcastMaxEdges={cap} is above the broadcast tiers' "
                f"hard cap of {BCAST_HARD_CAP_EDGES} edges (31-bit id packing, "
                "int32 CSR columns)"
            )
        return cap
    try:
        mem = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:  # noqa: BLE001 — connect-mode / no JVM handle
        return BCAST_MAX_EDGES
    try:
        exec_mem = spark.conf.get("spark.executor.memory", None)
        if exec_mem:
            mem = min(mem, _parse_mem(exec_mem))
    except Exception:  # noqa: BLE001
        pass
    derived = (mem // 10) // 16
    return max(BCAST_MAX_EDGES, min(derived, BCAST_HARD_CAP_EDGES))


def _parse_mem(s: str) -> int:
    """Spark memory string ("4g", "512m", "8192") -> bytes."""
    s = s.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


@dataclass
class PlanChoice:
    strategy: str
    m: int
    k: float | None  # BFS-horizontal edge fraction: the ladder never computes it
    reason: str


def choose_iterative_tier(
    edges: DataFrame,
    blocked_max_edges: int | None = None,
    assume_canonical: bool = False,
    m: int | None = None,
) -> str:
    """"blocked" (CSR-in-memory broadcast tier) while the graph fits a
    driver/executor vector, else "shuffle" — the same memory-fit statistic
    the triangle planner uses, applied to PageRank/CC/label propagation so
    callers don't have to self-select the tier. Default cutoff is the
    memory-derived :func:`bcast_max_edges`. ``m``: the canonical edge
    count when the caller already knows it (no count job then)."""
    if m is None:
        m = (edges if assume_canonical else canonical_edges(edges)).count()
    if blocked_max_edges is None:
        blocked_max_edges = bcast_max_edges(edges.sparkSession)
    return "blocked" if m <= blocked_max_edges else "shuffle"


def plan_tier(edges: DataFrame, tier: str, *, assume_canonical: bool = False) -> str:
    """The iterative tier an operator runs: ``tier`` itself when pinned to
    "blocked" or "shuffle" (no job), :func:`choose_iterative_tier` for
    "auto". Any other name raises ``ValueError`` before a job runs."""
    if tier in ("blocked", "shuffle"):
        return tier
    if tier != "auto":
        raise ValueError(
            f"unknown tier {tier!r}: expected 'auto', 'blocked' or 'shuffle'"
        )
    return choose_iterative_tier(edges, assume_canonical=assume_canonical)


def choose_triangle_strategy(
    edges: DataFrame,
    small_edges: int = SMALL_GRAPH_EDGES,
    bcast_max: int | None = None,
    assume_canonical: bool = False,
    m: int | None = None,
) -> PlanChoice:
    """Pick a triangle strategy from graph statistics (cheapest first).
    ``m``: the canonical edge count when the caller already knows it (no
    count job then).

    Beyond the memory cutoff, auto ALWAYS picks "part" (round 4,
    measured): the reference's k-statistic cutover (tc.c:1904) routes
    low-k graphs to the level split, but that constant was tuned for an
    in-memory OpenMP engine — in this shuffle-based engine the level
    tier's G1 wedge join materializes Σ_horiz crossdeg(src) rows through
    an exchange, which is hub-product-shaped and exhausted shuffle disk
    at RMAT-22 (m=67M, k=0.57: level FAILED with "No space left on
    device" at ~70 GB free; part completed the same graph in 184 s,
    2,948,949,366 triangles). "level" remains an explicitly-requestable
    strategy (reference parity, exact, oracle-gated at test scale) —
    auto just never gambles on it. Skipping the k-statistic also saves
    auto one full BFS on every beyond-memory graph."""
    if m is None:
        m = (edges if assume_canonical else canonical_edges(edges)).count()
    if bcast_max is None:
        bcast_max = bcast_max_edges(edges.sparkSession)
    if m < small_edges:
        return PlanChoice("sql", m, None, f"m={m} < {small_edges} (tc.h:43 base)")
    if m <= bcast_max:
        return PlanChoice(
            "bcast", m, None, f"m={m} <= {bcast_max}: oriented CSR fits memory"
        )
    return PlanChoice(
        "part", m, None,
        f"m={m} > {bcast_max}: co-grouped CSR blocks (bounded replication; "
        "level's wedge-join shuffle is hub-product-shaped — see docstring)",
    )
