"""The engine's graph abstraction: two DataFrames, not a vertex store.

The reference keeps a distributed adjacency-list vertex store with
pluggable out-edge containers (HashMapEdges et al.,
common/graph/SortedOutEdges.java:49, spinner/OpenHashMapEdges.java:37).
Here a graph is simply ``edges(src long, dst long, weight double)``
plus derived vertex/degree tables; physical placement is hash
partitioning on ``src`` done ONCE and cached, so every superstep's
scatter join (state ⋈ edges on src) reuses the cached exchange and
only the (small) state side shuffles.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# per-Graph plan-identity counter (see from_edges)
_GRAPH_UID = itertools.count(1)


@dataclass
class Graph:
    """An immutable edge-set view of a directed graph.

    ``edges`` columns: src (long), dst (long), weight (double).
    Mutating algorithms (k-core, semimetric, b-matching) produce NEW
    Graph objects — functional rebuilds, per SURVEY.md §2.a graph
    mutation mapping.
    """

    edges: DataFrame
    #: the edge rows are distinct AND closed under reversal ((u,v) row ⟺
    #: (v,u) row) — lets canonicalization in triangle/similarity/
    #: semimetric plans become a free ``src < dst`` filter instead of a
    #: full distinct/agg shuffle of the edge table. Set by the inducers
    #: and ``symmetrize()``, which construct exactly that shape.
    symmetric_distinct: bool = False
    _num_vertices: int | None = field(default=None, repr=False)
    _num_edges: int | None = field(default=None, repr=False)
    #: memoized derived physical layouts (vertex dictionary, degree
    #: table, per-operator scatter/CSR-block layouts) — prepare once,
    #: iterate many. Values are persisted DataFrames or arbitrary
    #: handles registered with a cleanup callable; ``unpersist()``
    #: releases everything.
    _derived: dict = field(default_factory=dict, repr=False)
    _cleanups: dict = field(default_factory=dict, repr=False)

    @staticmethod
    def from_edges(
        edges: DataFrame,
        partitions: int | None = None,
        cache: bool = True,
        symmetric_distinct: bool = False,
    ) -> "Graph":
        """Normalize schema, co-locate by src, optionally persist."""
        e = edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            (F.col("weight") if "weight" in edges.columns else F.lit(1.0)).cast("double").alias("weight"),
        )
        # Plan-identity marker (round 6): Spark's CacheManager keys
        # cache entries by the canonicalized ANALYZED plan, so two
        # Graphs induced by identical code share entries — and
        # unpersisting the old one silently evicts the new one's caches
        # (measured in the bench's re-induction loop: the fresh graph's
        # vertex dictionary was evicted by the previous graph's cleanup
        # and every later operator call re-derived it, ~2s/call). The
        # constant-folded marker predicate makes each Graph's plan
        # unique where cache lookup happens while the optimizer removes
        # it entirely from the physical plan.
        uid = next(_GRAPH_UID)
        e = e.filter(F.lit(uid) == F.lit(uid))
        if partitions:
            e = e.repartition(partitions, "src")
        else:
            e = e.repartition("src")
        if cache:
            e = e.persist(StorageLevel.MEMORY_AND_DISK)
        return Graph(edges=e, symmetric_distinct=symmetric_distinct)

    # -- derived views ----------------------------------------------------
    def vertices(self) -> DataFrame:
        """Distinct vertex ids appearing on either endpoint.

        ``symmetric_distinct`` fast path (round 6): when every (u,v) row
        has its (v,u) mirror, the distinct src set IS the vertex set —
        half the scan, and because the edge cache is hash-partitioned by
        src the aggregate needs NO exchange at all (the union form
        always shuffles: the dst side is partitioned by the wrong key).
        """
        if self.symmetric_distinct:
            return self.edges.select(F.col("src").alias("id")).distinct()
        return (
            self.edges.select(F.col("src").alias("id"))
            .union(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def derived(self, key: tuple, builder, cleanup=None):
        """Memoize a derived physical layout on this graph.

        The iterative operators all rebuild the same one-time layouts
        on every call — the vertex dictionary, the degree table, the
        scatter layouts, the staged CSR blocks. Each is a pure function
        of the (immutable) edge set plus the key's parameters, so it is
        built once per Graph and reused across operator calls (at
        cluster scale: bucketed/derived tables).
        ``cleanup(value)`` (default: ``value.unpersist()``) runs in
        ``unpersist()``.
        """
        if key not in self._derived:
            value = builder()
            self._derived[key] = value
            self._cleanups[key] = cleanup
        return self._derived[key]

    def vertices_by_id(self, partitions: int) -> DataFrame:
        """The vertex dictionary, hash-partitioned by id and persisted —
        the state0 substrate every iterative operator re-derived per
        call (a distinct over the edge set) before this memo."""
        return self.derived(
            ("verts_by_id", partitions),
            lambda: self.vertices()
            .repartition(partitions, "id")
            .persist(StorageLevel.MEMORY_AND_DISK),
        )

    def degree_weights(self) -> DataFrame:
        """(src, out_deg, wsum) persisted — the shared degree/weight
        census PageRank's shares, the salted-layout shard census, and
        the triangle orientation all recompute independently."""
        return self.derived(
            ("degree_weights",),
            lambda: self.edges.groupBy("src")
            .agg(F.count("*").alias("out_deg"), F.sum("weight").alias("wsum"))
            .persist(StorageLevel.MEMORY_AND_DISK),
        )

    def out_degrees(self) -> DataFrame:
        """(id, out_deg) — vertices with no out-edges are absent (join
        with vertices() and coalesce(0) where dangling matters)."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_deg")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("in_deg")
        )

    def symmetrize(self) -> "Graph":
        """Undirected view: add reverse edges, dedupe — ReverseEdges
        semantics (common/computation/ReverseEdges.java:36-63)."""
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        sym = (
            self.edges.unionByName(rev)
            .groupBy("src", "dst")
            .agg(F.max("weight").alias("weight"))
        )
        return Graph.from_edges(sym, symmetric_distinct=True)

    def num_vertices(self) -> int:
        if self._num_vertices is None:
            # count the distinct directly — on a symmetric graph this is
            # a zero-exchange pass over the src-partitioned edge cache.
            # Deliberately does NOT build the persisted vertex
            # dictionary: callers that induce graphs repeatedly (the
            # bench's induction loop) would pay the dictionary
            # materialization per induction; the first operator that
            # needs the dictionary builds the memo lazily instead. If a
            # dictionary already exists, count through it (cached scan).
            for key, value in self._derived.items():
                if key[0] == "verts_by_id":
                    self._num_vertices = value.count()
                    return self._num_vertices
            self._num_vertices = self.vertices().count()
        return self._num_vertices

    def num_edges(self) -> int:
        if self._num_edges is None:
            self._num_edges = self.edges.count()
        return self._num_edges

    def unpersist(self) -> None:
        self.edges.unpersist()
        for key, value in self._derived.items():
            cleanup = self._cleanups.get(key)
            if cleanup is not None:
                cleanup(value)
            else:
                value.unpersist()
        self._derived.clear()
        self._cleanups.clear()
