"""Semi-metric edge detection/removal — graphs/SemimetricTriangles.java:55-297
and the memory-bounded variant ScalableSemimetric.java:67-384.

An edge (a,b) is semi-metric if some triangle a-b-c has
w(a,b) > w(a,c) + w(c,b) — a shorter indirect path exists. The
reference enumerates triangles by message passing and issues
removeEdgesRequest for the heavy edge (both directions, :175-190).

Spark: the triangles are ``triangles.py``'s enumeration
(``triangles_df``, its degree-oriented wedge plan, whose oriented edge
set stays memoized on the Graph until ``Graph.unpersist()``); the
three canonical edge weights (``triangles._canonical``: the largest
weight of each unordered pair) are joined onto each triangle and the
violating edges marked; removal is one anti-join (functional
mutation). The ``chunks`` knob reproduces ScalableSemimetric's
megastep staging (:95-104) as the triangle plan's pivot passes, though
Spark's spilling shuffle makes it optional until wedge counts explode
at extreme scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.triangles import _canonical, triangles_df


def semimetric_edges(graph: Graph, chunks: int = 1) -> DataFrame:
    """(u, v, w) canonical edges that are semi-metric in ≥1 triangle."""
    e = _canonical(graph)

    def weight(u, v, name):
        return e.select(F.col("u").alias(u), F.col("v").alias(v), F.col("w").alias(name))

    tri = (
        triangles_df(graph, chunks)
        .join(weight("low", "mid", "wab"), ["low", "mid"])
        .join(weight("mid", "high", "wbc"), ["mid", "high"])
        .join(weight("low", "high", "wac"), ["low", "high"])
    )

    # in triangle (low, mid, high): test each of the three edges
    def viol(u, v, w, x, y):
        edge = F.struct(F.col(u).alias("u"), F.col(v).alias("v"), F.col(w).alias("w"))
        return F.when(F.col(w) > F.col(x) + F.col(y), edge)

    marked = F.array(
        viol("low", "mid", "wab", "wbc", "wac"),
        viol("mid", "high", "wbc", "wab", "wac"),
        viol("low", "high", "wac", "wab", "wbc"),
    )
    return (
        tri.select(F.explode(marked).alias("e"))
        .where(F.col("e").isNotNull())
        .select("e.*")
        .distinct()
    )


def remove_semimetric(graph: Graph, chunks: int = 1) -> Graph:
    """Graph with semi-metric edges removed in both directions —
    the Finalize mutation step (SemimetricTriangles.java:265-297)."""
    bad = semimetric_edges(graph, chunks).select("u", "v")
    both = bad.unionByName(bad.select(F.col("v").alias("u"), F.col("u").alias("v")))
    kept = graph.edges.join(
        both.withColumnRenamed("u", "src").withColumnRenamed("v", "dst"),
        ["src", "dst"],
        "left_anti",
    )
    return Graph.from_edges(kept)
