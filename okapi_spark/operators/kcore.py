"""K-core decomposition — graphs/KCore.java:50-109.

Reference: vertices with degree < k remove themselves (messages tell
neighbors to prune the edge; a VertexResolver stops deleted vertices
resurrecting, :99-108). Spark: the graph-mutation loop is a functional
edge-set rebuild — degrees → dead set → anti-join — with the EDGE SET
as the BSP state, driven by ``run_supersteps`` (SURVEY.md §2.a graph
mutation mapping). The anti-join replaces the resolver: removed
vertices simply no longer appear on either side. Because the loop runs
on the shared BSP runtime, a ``CheckpointStore`` makes the mutation
loop crash-resumable mid-decomposition exactly like the value-state
operators (kill at round r → resume → identical core).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from okapi_spark.bsp import CheckpointStore, run_supersteps
from okapi_spark.graph.graph import Graph
from okapi_spark.plans import broadcast

# broadcast the pruned-vertex set into the anti-join only while its
# estimated size (rows × this) fits the one-shot broadcast budget — a
# row-count gate at 20M rows would ship hundreds of MB to every task
_DEAD_ROW_BYTES = 16  # 8B long + per-row structural overhead


def kcore(
    graph: Graph,
    k: int,
    max_rounds: int = 500,
    store: CheckpointStore | None = None,
) -> Graph:
    """The k-core subgraph (possibly empty)."""
    edges0 = graph.edges.select("src", "dst", "weight")
    prev_count = [None]

    def superstep(ss: int, state: DataFrame):
        from pyspark.storagelevel import StorageLevel

        deg = state.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
        dead = deg.filter(F.col("deg") < k).select("id").persist(StorageLevel.MEMORY_AND_DISK)
        n_dead = dead.count()
        if n_dead * _DEAD_ROW_BYTES <= broadcast.ONE_SHOT_BROADCAST_BUDGET_BYTES:
            dead = F.broadcast(dead)
        new_edges = (
            state.join(dead.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(dead.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst", "weight")
        )

        def post(materialized: DataFrame) -> dict:
            n = materialized.count()
            removed = (prev_count[0] - n) if prev_count[0] is not None else None
            prev_count[0] = n
            return {"edges": n, "removed_edges": removed if removed is not None else -1}

        return new_edges, post

    def halt(ss: int, m: dict) -> bool:
        # fixpoint: a round that removes nothing (first round always runs)
        return m["removed_edges"] == 0

    res = run_supersteps(edges0, superstep, max_supersteps=max_rounds, halt_fn=halt, store=store)
    return Graph(edges=res.state)


def kcore_vertices(graph: Graph, k: int) -> DataFrame:
    """(id) vertices surviving in the k-core."""
    return kcore(graph, k).vertices()
