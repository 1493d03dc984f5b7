"""Graph — the one-import facade over the engine's operators.

The reference exposes its library as `graph_t` + a registry of algorithms
over it (main.c:454-488); this is the DataFrame-native equivalent: wrap an
edge DataFrame once (canonicalized, optionally persisted) and call
algorithms as methods. Every method delegates to the same operators the
gate queries use — the facade adds no semantics, only ergonomics.

    g = Graph.from_mtx(spark, "graph.mtx").persist()
    g.triangle_count()              # auto-planned
    g.pagerank(tol=1e-6).state
    g.connected_components().state
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .operators.orientation import DST, SRC, canonical_edges


class Graph:
    """Undirected graph over a canonical (src < dst, distinct) edge table."""

    def __init__(self, edges: DataFrame, assume_canonical: bool = False):
        self.edges = edges if assume_canonical else canonical_edges(edges)
        self._persisted = False
        self._m: int | None = None  # edge count, memoized by the planners

    # ------------------------------------------------------------ sources

    @classmethod
    def from_mtx(cls, spark: SparkSession, path: str) -> "Graph":
        from .sources.mtx import read_mtx

        return cls(read_mtx(spark, path), assume_canonical=True)

    @classmethod
    def from_rmat(cls, spark: SparkSession, scale: int, **kw) -> "Graph":
        from .sources.rmat import rmat_edges

        return cls(rmat_edges(spark, scale=scale, **kw), assume_canonical=True)

    @classmethod
    def from_cooccurrence(
        cls, items: DataFrame, group_col: str, item_col: str, **kw
    ) -> "Graph":
        from .sources.edges import cooccurrence_edges

        return cls(
            cooccurrence_edges(items, group_col, item_col, **kw),
            assume_canonical=True,
        )

    # ------------------------------------------------------------ lifecycle

    def persist(self) -> "Graph":
        self.edges = self.edges.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted = True
        return self

    def unpersist(self) -> "Graph":
        if self._persisted:
            self.edges.unpersist()
            self._persisted = False
        return self

    # ------------------------------------------------------------ structure

    @property
    def vertices(self) -> DataFrame:
        return (
            self.edges.select(F.col(SRC).alias("v"))
            .union(self.edges.select(F.col(DST).alias("v")))
            .distinct()
        )

    def degrees(self) -> DataFrame:
        from .operators.orientation import degrees

        return degrees(self.edges)

    def degree_stats(self) -> DataFrame:
        from .operators.stats import degree_stats

        return degree_stats(self.edges)

    def k_metric(self) -> float:
        from .operators.bfs import k_metric

        return float(k_metric(self.edges).collect()[0]["k"])

    # ------------------------------------------------------------ algorithms

    def triangle_count(self, strategy: str = "auto") -> int:
        from .operators.triangles import triangle_count

        if strategy == "auto":
            strategy = self.plan().strategy
        return int(
            triangle_count(self.edges, strategy, assume_canonical=True)
            .collect()[0]["triangles"]
        )

    def triangles_per_vertex(self) -> DataFrame:
        from .operators.triangles import triangles_per_vertex

        return triangles_per_vertex(self.edges)

    def clustering_coefficient(self) -> float:
        from .operators.triangles import clustering_coefficient

        return float(
            clustering_coefficient(self.edges).collect()[0]["global_clustering"]
        )

    def local_clustering(self) -> DataFrame:
        from .operators.triangles import local_clustering

        return local_clustering(self.edges)

    def four_cycle_count(self) -> int:
        from .operators.triangles import four_cycle_count

        return int(four_cycle_count(self.edges).collect()[0]["four_cycles"])

    def four_clique_count(self) -> int:
        from .operators.triangles import four_clique_count

        return int(four_clique_count(self.edges).collect()[0]["four_cliques"])

    def degree_panel(self) -> DataFrame:
        from .operators.stats import degree_panel

        return degree_panel(self.edges)

    def bfs(self, roots: list[int] | None = None, tier: str = "auto") -> DataFrame:
        from .operators.bfs import bfs_levels

        return bfs_levels(self.edges, roots=roots, tier=self._tier(tier))

    def distance_stats(self, n_roots: int = 16, tier: str = "auto") -> DataFrame:
        from .operators.distances import distance_stats

        return distance_stats(self.edges, n_roots=n_roots, tier=self._tier(tier))

    def centrality(self, n_roots: int = 16, tier: str = "auto") -> DataFrame:
        from .operators.distances import centrality

        return centrality(
            self.edges, n_roots=n_roots, tier=self._tier(tier), assume_canonical=True
        )

    def betweenness(self, n_roots: int = 16, tier: str = "auto") -> DataFrame:
        from .operators.betweenness import betweenness

        return betweenness(
            self.edges, n_roots=n_roots, tier=self._tier(tier), assume_canonical=True
        )

    def sssp(self, root: int | None = None, tier: str = "auto") -> DataFrame:
        """Unit-weight shortest paths (== BFS distances) from the facade's
        canonical edge table. ``__init__`` dropped any weight column (same
        canonicalization hazard Graph.pagerank documents), so weighted SSSP
        must call ``operators.distances.sssp(raw_edges, weight_col=...)``
        on the ORIGINAL table."""
        from .operators.distances import sssp

        e = self.edges.select(SRC, DST, F.lit(1.0).alias("weight"))
        return sssp(e, root=root, tier=self._tier(tier))

    def random_walks(
        self, length: int = 4, walks_per_vertex: int = 1, seed: int = 11
    ) -> DataFrame:
        from .operators.walks import random_walks

        return random_walks(
            self.edges, length=length, walks_per_vertex=walks_per_vertex, seed=seed
        )

    def biased_walks(
        self, length: int = 4, walks_per_vertex: int = 1, seed: int = 11,
        p: float = 1.0, q: float = 1.0,
    ) -> DataFrame:
        """node2vec p/q-biased 2nd-order walks (p: return bias, q:
        in-out bias; p=q=1 ≈ uniform up to the hash key-space)."""
        from .operators.walks import biased_walks

        return biased_walks(
            self.edges, length=length, walks_per_vertex=walks_per_vertex,
            seed=seed, p=p, q=q,
        )

    def modularity(
        self, assignments: DataFrame, label_col: str = "label"
    ) -> float | None:
        """None when the assignment covers no graph vertex (the aggregate
        is empty) — mirrors assortativity's undefined case."""
        from .operators.labelprop import modularity

        r = modularity(self.edges, assignments, label_col=label_col).collect()[0][
            "modularity"
        ]
        return None if r is None else float(r)

    def assortativity(self) -> float | None:
        from .operators.stats import degree_assortativity

        r = degree_assortativity(self.edges).collect()[0]["assortativity"]
        return None if r is None else float(r)

    def link_prediction(
        self, min_common: int = 1, max_center_degree: int | None = None
    ) -> DataFrame:
        from .operators.linkpred import link_prediction

        return link_prediction(
            self.edges, min_common=min_common, max_center_degree=max_center_degree
        )

    def _tier(self, tier: str) -> str:
        """The concrete tier every tiered method hands its operator: a
        pinned tier as :func:`~.plans.planner.plan_tier` checks it, auto
        from the planner's memory statistic over the kept edge count."""
        from .plans import planner

        if tier != "auto":
            return planner.plan_tier(self.edges, tier)
        if self._m is None:
            self._m = self.edges.count()
        return planner.choose_iterative_tier(
            self.edges, assume_canonical=True, m=self._m
        )

    def pagerank(self, tier: str = "auto", **kw):
        """tier: "auto" picks the CSR-blocked broadcast substrate while the
        graph fits memory, else the shuffle substrate (identical semantics,
        cross-checked in tests).

        The facade is UNDIRECTED and UNWEIGHTED by construction:
        ``__init__`` canonicalized the edge table (re-oriented src < dst,
        dropped non-(src,dst) columns), so ``directed=True`` would silently
        compute PageRank on a re-oriented table and ``weight_col`` would hit
        a missing column. Both are rejected here — call
        ``operators.pagerank.pagerank(raw_edges, ...)`` on the ORIGINAL
        table for directed/weighted runs."""
        for bad in ("directed", "weight_col"):
            if kw.get(bad):
                raise ValueError(
                    f"Graph.pagerank does not support {bad!r}: the Graph "
                    "facade canonicalizes edges (src < dst, extra columns "
                    "dropped), which destroys direction and weights. Call "
                    "triangle_counting_spark.operators.pagerank.pagerank() "
                    "on the original edge table instead."
                )
        from .operators.pagerank import pagerank, pagerank_blocked

        # personalization is orthogonal to canonicalization (a vertex set,
        # not an edge property) — but only the shuffle tier implements it
        personalized = kw.get("personalized_for") is not None
        if personalized and tier == "blocked":
            raise ValueError(
                "personalized_for runs only on the shuffle tier; "
                "pass tier='shuffle' or 'auto'"
            )
        tier = self._tier({"auto": "shuffle"}.get(tier, tier) if personalized else tier)
        op = pagerank_blocked if tier == "blocked" else pagerank
        return op(self.edges, assume_canonical=True, **kw)

    def connected_components(self, tier: str = "auto", **kw):
        from .operators.components import connected_components, requested_tier

        return connected_components(
            self.edges,
            tier=self._tier(requested_tier(tier, **kw)),
            assume_canonical=True,
            **kw,
        )

    def label_propagation(self, iterations: int = 3, tier: str = "auto") -> DataFrame:
        """(v, label) after ``iterations`` synchronous rounds."""
        from .operators.labelprop import label_propagation_fixed

        return label_propagation_fixed(
            self.edges, iterations, tier=self._tier(tier), assume_canonical=True
        )

    def maximal_independent_set(self, tier: str = "auto") -> DataFrame:
        from .operators.mis import maximal_independent_set

        return maximal_independent_set(self.edges, tier=self._tier(tier))

    def louvain(self, tier: str = "auto", **kw) -> DataFrame:
        """(v, community) — modularity-optimizing Louvain communities
        (synchronous parity-gated local moving + contraction levels)."""
        from .operators.louvain import louvain

        return louvain(self.edges, tier=self._tier(tier), **kw)

    def densest_subgraph(self, tier: str = "auto", **kw) -> DataFrame:
        """(v, density) — densest-subgraph approximation (Charikar greedy
        blocked / Bahmani (1+ε)-peeling shuffle)."""
        from .operators.densest import densest_subgraph

        return densest_subgraph(self.edges, tier=self._tier(tier), **kw)

    def hits(self, iterations: int = 10, tier: str = "auto") -> DataFrame:
        """HITS is inherently DIRECTED, but the Graph facade canonicalizes
        edges (re-oriented src < dst) in ``__init__`` — hub/auth scores on
        the canonical table would be artifacts of vertex-id ordering, not
        of the user's link direction. Rejected here for the same reason
        ``Graph.pagerank`` rejects ``directed=True``: call
        ``operators.hits.hits_fixed()`` on the ORIGINAL edge table."""
        raise ValueError(
            "Graph.hits is not supported: the Graph facade canonicalizes "
            "edges (src < dst), which destroys the link direction HITS "
            "needs — hub/auth on the canonical table would be artifacts "
            "of vertex-id ordering. Call "
            "triangle_counting_spark.operators.hits.hits_fixed() on the "
            "original (un-canonicalized) edge table instead."
        )

    def triangle_count_delta(self, delta_edges: DataFrame) -> int:
        """Triangles added by inserting ``delta_edges`` (incremental)."""
        from .operators.triangles import triangle_count_delta

        return int(
            triangle_count_delta(self.edges, delta_edges)
            .collect()[0]["triangles_added"]
        )

    def kcore(self, k: int) -> "Graph":
        from .operators.subgraphs import kcore_edges

        return Graph(kcore_edges(self.edges, k), assume_canonical=True)

    def ktruss(self, k: int) -> "Graph":
        from .operators.subgraphs import ktruss_edges

        return Graph(ktruss_edges(self.edges, k), assume_canonical=True)

    def coreness(self, tier: str = "auto") -> DataFrame:
        """(v, coreness) — every vertex's core number (h-index fixpoint)."""
        from .operators.subgraphs import coreness, coreness_blocked

        op = coreness_blocked if self._tier(tier) == "blocked" else coreness
        return op(self.edges, assume_canonical=True).state

    def hyperball(self, rounds: int = 4) -> DataFrame:
        """(v, reg_sum, zeros, ball_estimate) — HLL-estimated
        |ball(v, rounds)| for every vertex in `rounds` passes total."""
        from .operators.neighborhood import hyperball

        return hyperball(self.edges, rounds=rounds, assume_canonical=True)

    def hyperball_centrality(self, max_rounds: int = 16) -> DataFrame:
        """(v, harmonic_estimate) — sketch harmonic centrality for every
        vertex (all-vertex complement of the exact sampled centrality())."""
        from .operators.neighborhood import hyperball_centrality

        return hyperball_centrality(
            self.edges, max_rounds=max_rounds, assume_canonical=True
        )

    def effective_diameter(self, q: float = 0.9, max_rounds: int = 16) -> float:
        """Interpolated q-effective diameter from the HyperBall
        neighborhood function (sketch estimate, not exact)."""
        from .operators.neighborhood import (
            effective_diameter,
            neighborhood_function,
        )

        nf = neighborhood_function(
            self.edges, max_rounds=max_rounds, assume_canonical=True
        )
        return effective_diameter(nf, q=q)

    def plan(self):
        """The statistic-driven strategy choice (tc_bader_hybrid analog).
        The edge count it takes is kept: every later auto call of this
        Graph (triangles or the iterative tier) reuses it."""
        from .plans.planner import choose_triangle_strategy

        choice = choose_triangle_strategy(
            self.edges, assume_canonical=True, m=self._m
        )
        self._m = choice.m
        return choice
