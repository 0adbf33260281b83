"""Neighborhood-similarity operators: Jaccard, Adamic-Adar, clustering
coefficient.

The reference computes these by broadcasting friend lists as messages
(graphs/similarity/Jaccard.java:147-185, AdamicAdar.java:105-241,
ClusteringCoefficient.java:89-192 via common/computation/SendFriends.java)
with an optional Bloom-filter approximation (Jaccard.java:212-243).
In Spark none of that is message passing, and none of it enumerates
wedges here: a common neighbour c of a linked pair (u, v) is exactly
one triangle {u, v, c}, so all three read ``triangles.py``'s
enumeration (``triangles_df``) — its degree-oriented wedge plan, whose
oriented edge set stays memoized on the Graph until
``Graph.unpersist()``. Jaccard and Adamic-Adar explode each triangle
into its three (u, v, c) edge rows and aggregate per edge; the
clustering coefficient counts triangles per corner. The Bloom
approximation is pointless here (the exact plan is cheaper than
shipping filters) and is intentionally not replicated; ``approx``
selects the MinHash estimate instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.triangles import triangles_df, triangles_per_vertex_all


def _adj(graph: Graph) -> DataFrame:
    """Symmetric adjacency without weights, deduped. Free projection
    for ``symmetric_distinct`` graphs (both directions already present,
    rows already distinct); union+distinct otherwise."""
    e = graph.edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if graph.symmetric_distinct:
        return e
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _triangle_edges(graph: Graph) -> DataFrame:
    """(u, v, c): every triangle of ``triangles_df`` as its three edges
    u < v, each with the triangle's third vertex c — one row per common
    neighbour c of each linked pair (Jaccard.java:169 message∩adjacency
    probe)."""

    def edge(u, v, c):
        return F.struct(F.col(u).alias("u"), F.col(v).alias("v"), F.col(c).alias("c"))

    rows = F.explode(F.array(
        edge("low", "mid", "high"), edge("low", "high", "mid"), edge("mid", "high", "low")
    ))
    return triangles_df(graph).select(rows.alias("t")).select("t.*")


def common_neighbors(graph: Graph) -> DataFrame:
    """(u, v, common) for canonical pairs u<v that share ≥1 neighbor AND
    are connected — the per-edge intersection size Jaccard starts
    from."""
    return _triangle_edges(graph).groupBy("u", "v").agg(F.count("*").alias("common"))


def jaccard(graph: Graph, distance: bool = False, approx: bool = False) -> DataFrame:
    """(u, v, sim) per undirected edge — |Γu∩Γv| / |Γu∪Γv|
    (Jaccard.java:147-185). Edges with empty intersection get 0.
    ``distance=True`` applies the 1/s − 1 transform (:187-200,364-378,
    ∞ clamped to Double.MAX_VALUE in the reference — here null)."""
    if approx:
        return jaccard_approx(graph, distance=distance)
    adj = _adj(graph)
    deg = adj.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    linked = adj.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    cn = common_neighbors(graph)
    out = (
        linked.join(cn, ["u", "v"], "left")
        .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
        .select(
            "u", "v",
            (
                F.coalesce("common", F.lit(0)).cast("double")
                / (F.col("du") + F.col("dv") - F.coalesce("common", F.lit(0)))
            ).alias("sim"),
        )
    )
    if distance:
        out = out.select(
            "u", "v",
            F.when(F.col("sim") > 0, 1.0 / F.col("sim") - 1.0).alias("sim"),
        )
    return out


def jaccard_approx(graph: Graph, num_hashes: int = 16, distance: bool = False) -> DataFrame:
    """Approximate per-edge Jaccard via MinHash agreement.

    The reference's approximation is a Bloom filter of the
    neighborhood traded over messages (Jaccard.java:212-243,
    jaccard.bloom.filter.bits). Under Spark, shipping per-vertex
    sketches through a join costs the same shuffle as exact counting,
    so the idiomatic sketch is MinHash: sim ≈ fraction of the
    ``num_hashes`` per-vertex min-hashes that agree — unbiased for
    Jaccard, O(num_hashes) state per vertex, same failure envelope as
    the Bloom variant (overestimate variance ~ 1/√m)."""
    adj = _adj(graph)
    mins = adj.groupBy(F.col("src").alias("id")).agg(
        *[F.min(F.xxhash64("dst", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )
    linked = adj.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    agree = sum(
        F.when(F.col(f"uh.h{i}") == F.col(f"vh.h{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    out = (
        linked.join(mins.alias("uh"), F.col("u") == F.col("uh.id"))
        .join(mins.alias("vh"), F.col("v") == F.col("vh.id"))
        .select("u", "v", (agree / F.lit(float(num_hashes))).alias("sim"))
    )
    if distance:
        out = out.select("u", "v", F.when(F.col("sim") > 0, 1.0 / F.col("sim") - 1.0).alias("sim"))
    return out


def adamic_adar(graph: Graph, distance: bool = False) -> DataFrame:
    """(u, v, aa) per undirected edge — Σ_{c ∈ Γu∩Γv} log(1/deg(c))
    (AdamicAdar.java:105-241: phase0 sets value log(1/deg), phase2 sums
    over common neighbors). Edges without common neighbors get 0."""
    adj = _adj(graph)
    deg = adj.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    linked = adj.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    scored = (
        _triangle_edges(graph)
        .join(deg.withColumnRenamed("id", "c"), "c")
        .groupBy("u", "v")
        # decimal sum: exact, order-insensitive addition so the result
        # is identical under any partitioning (a double sum can flip
        # the last bit with merge order, which an oracle ROUND can't
        # always absorb when the value sits on a rounding boundary)
        .agg(
            F.sum(F.log(1.0 / F.col("deg")).cast("decimal(38,18)"))
            .cast("double")
            .alias("aa")
        )
    )
    out = linked.join(scored, ["u", "v"], "left").select(
        "u", "v", F.coalesce("aa", F.lit(0.0)).alias("aa")
    )
    if distance:
        out = out.select("u", "v", F.when(F.col("aa") != 0, 1.0 / F.col("aa") - 1.0).alias("aa"))
    return out


def clustering_coefficient(graph: Graph) -> DataFrame:
    """(id, coeff) local clustering coefficient.

    Reference formula (ClusteringCoefficient.java:149-154): value =
    #closed-ordered-neighbor-pairs / (k(k−1)); each triangle at v
    closes TWO ordered pairs, so this equals 2·tri(v)/(k(k−1))."""
    adj = _adj(graph)
    deg = adj.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    tri = triangles_per_vertex_all(graph)
    return deg.join(tri, "id", "left").select(
        "id",
        F.when(
            F.col("deg") > 1,
            2.0 * F.coalesce("triangles", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(0.0)
        .alias("coeff"),
    )


def global_clustering_coefficient(graph: Graph) -> float:
    """Average of local coefficients — the reference's aggregator÷N
    counter (ClusteringCoefficient.java:172-188)."""
    row = clustering_coefficient(graph).agg(F.avg("coeff")).collect()[0]
    return float(row[0] or 0.0)
