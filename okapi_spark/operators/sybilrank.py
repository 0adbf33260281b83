"""SybilRank — graphs/SybilRank.java:44-351 (OSN sybil detection).

Semantics (verified against the reference source):
* totalTrust defaults to N = number of vertices (:146-152).
* Init (:125-141): trusted vertices get rank totalTrust/|trusted|,
  others 0; every vertex scatters rank·w/deg along its edges where
  deg = Σ edge weights (:95-101 computeDegree).
* Power iteration (:163-189): newRank = Σ incoming; scatter
  newRank·w/deg; stored value = newRank/deg (degree-normalized).
* Exactly ⌈c·log10(N)⌉ power iterations (:227-234), c =
  sybilrank.iteration.multiplier (default 1).

Spark: weighted PageRank's power iteration without teleport (base=0,
damping=1), on either physical mode; trusted seeds come from a side
table (SybilRankVertexValueInputFormat :321-350 analogue).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from okapi_spark.bsp import BSPResult
from okapi_spark.graph.graph import Graph
from okapi_spark.operators.pagerank import power_fixpoint, power_sql, share_layout
from okapi_spark.plans import csr_fixpoint as fx


def sybilrank(
    graph: Graph,
    trusted: DataFrame,
    iteration_multiplier: float = 1.0,
    total_trust: float | None = None,
    state_broadcast: bool | None = None,
    mode: str = "sql",
    num_partitions: int | None = None,
) -> BSPResult:
    """trusted: (id long). Returns state (id long, rank double) where
    rank is the degree-normalized trust after the final iteration.

    ``mode="sql"``: weighted PageRank's sql power plan (``power_sql``,
    base=0, damping=1) over the memoized weighted shares — one scatter
    per power iteration on the shared sql message plan
    (plans/scatter.py). The trust state is |V| rows every power
    iteration, so its zero-exchange broadcast layout runs while the
    ~32 B/vertex state fits the broadcast budget (csr_fixpoint.plan),
    else the salted layout (``res.plan["layout"]``);
    ``state_broadcast`` forces one.

    ``mode="csr"``: the same power iteration as a csr spec
    (``power_fixpoint``, base=0, damping=1) on the csr fixpoint runner
    over the same memoized weighted shares — in the driver inside the
    fuse window, else over staged blocks; same byte gate. ``res.plan``
    records the mode and the gate values (csr_fixpoint.plan).
    """
    if mode not in ("sql", "csr"):
        raise ValueError(f"unknown sybilrank mode {mode!r}")
    spark = graph.edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    # |V| from the local layout on in-window csr calls, else through the
    # memoized vertex dictionary (Graph.derived) the sql state0 reads
    plan = fx.plan(mode, graph, share_layout(graph, True), num_partitions, None,
                   state_broadcast, "trust", 32)
    n = graph.num_vertices()  # scalar memo — no per-call count job
    if total_trust is None:
        total_trust = float(n)
    if n == 0:
        # a fixed iteration count (⌈c·log10 N⌉) is undefined on no vertices
        return BSPResult(spark.createDataFrame([], "id long, rank double"), 0, False, plan=plan)
    # a driver-side seed list — trusted sets are small side tables, and
    # a local one collects without a Spark job
    t_ids = np.unique(np.asarray([r.id for r in trusted.select("id").collect()], dtype="int64"))
    n_trusted = len(t_ids)
    if n_trusted == 0:
        raise ValueError("sybilrank needs at least one trusted vertex")
    power_iterations = int(math.ceil(iteration_multiplier * math.log10(n))) or 1

    # the trust scatter is weighted PageRank's power iteration with
    # base=0, damping=1 (``0.0 + 1.0·msum`` is IEEE-identical to msum)
    if mode == "csr":
        def init(ids):
            rank = np.zeros(len(ids))
            pos, hit = fx.locate(ids, t_ids)  # seeds absent from V drop out
            rank[pos[hit]] = total_trust / n_trusted
            return {"rank": rank}

        res = fx.run(graph, power_fixpoint(graph, True, init, 0.0, 1.0), power_iterations, num_partitions)
    else:
        seeds = trusted.select("id").distinct().withColumn("is_trusted", F.lit(True))
        state0 = graph.vertices_by_id(num_partitions).join(seeds, "id", "left").select(
            "id", F.when(F.col("is_trusted"), total_trust / n_trusted).otherwise(0.0).alias("rank")
        )
        res = power_sql(graph, True, state0, 0.0, 1.0, num_partitions, plan["layout"] == "broadcast",
                        power_iterations)
    # stored value = trust / weighted degree (the census's Σw)
    deg = graph.degree_weights().select(F.col("src").alias("id"), F.col("wsum").alias("deg"))
    res.state = res.state.join(deg, "id", "left").select(
        "id",
        F.when(F.col("deg") > 0, F.col("rank") / F.col("deg")).otherwise(0.0).alias("rank"),
    )
    res.plan = plan
    return res
