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

Spark: identical scatter joins as weighted PageRank without teleport;
trusted seeds come from a side table (SybilRankVertexValueInputFormat
:321-350 analogue).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.bsp import BSPResult, no_adaptive, run_supersteps
from okapi_spark.graph.graph import Graph
from okapi_spark.plans.broadcast import auto_state_broadcast


def sybilrank(
    graph: Graph,
    trusted: DataFrame,
    iteration_multiplier: float = 1.0,
    total_trust: float | None = None,
    state_broadcast: bool | None = None,
    broadcast_threshold: int | None = None,
    mode: str = "sql",
    num_partitions: int | None = None,
) -> BSPResult:
    """trusted: (id long). Returns state (id long, rank double) where
    rank is the degree-normalized trust after the final iteration.

    ``state_broadcast``: the trust state is |V| rows every power
    iteration, so the zero-exchange broadcast plan is auto-gated on
    estimated state bytes vs the shared 256MB budget
    (plans/broadcast.py; ``broadcast_threshold`` overrides with an
    explicit row count); above it the classic two-shuffle plan runs
    (state shuffles into the src join, map-side partial sum combines
    messages).

    ``mode="csr"``: the scatter is weighted-PageRank-shaped, so it runs
    PageRank's power-iteration spec (``power_fixpoint``, base=0,
    damping=1 — ``0.0 + 1.0·msum`` is IEEE-identical to ``msum``) on
    the csr fixpoint runner over the memoized weighted share blocks —
    zero exchange, zero edge rescan; same byte gate.
    """
    if mode not in ("sql", "csr"):
        raise ValueError(f"unknown sybilrank mode {mode!r}")
    spark = graph.edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    # memoized vertex dictionary (Graph.derived) — was a per-call
    # persist that leaked across calls before round 6
    vertices = graph.vertices_by_id(num_partitions)
    n = graph.num_vertices()  # scalar memo — no per-call count job
    if total_trust is None:
        total_trust = float(n)
    if mode == "csr" and not auto_state_broadcast(
        n, row_bytes=32, rows_override=broadcast_threshold
    ):
        raise ValueError(
            f"mode='csr' broadcasts the full trust state each superstep; "
            f"|V|={n} exceeds the broadcast budget "
            f"(threshold={broadcast_threshold}). Use mode='sql'."
        )
    if state_broadcast is None:
        # byte-budgeted gate (plans/broadcast.py, CC/LPA/PageRank
        # precedent): (id, send) ~ 32B/row vs the 256MB budget
        state_broadcast = auto_state_broadcast(n, row_bytes=32, rows_override=broadcast_threshold)
    if n == 0:
        # a fixed iteration count (⌈c·log10 N⌉) is undefined on no vertices
        return BSPResult(spark.createDataFrame([], "id long, rank double"), 0, False)
    # a driver-side seed list — trusted sets are small side tables, and
    # a local one collects without a Spark job
    t_ids = np.unique(np.asarray([r.id for r in trusted.select("id").collect()], dtype="int64"))
    n_trusted = len(t_ids)
    if n_trusted == 0:
        raise ValueError("sybilrank needs at least one trusted vertex")
    power_iterations = int(math.ceil(iteration_multiplier * math.log10(n))) or 1

    deg = graph.edges.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("deg"))
    if mode == "csr":
        from okapi_spark.operators.pagerank import power_fixpoint
        from okapi_spark.plans import csr_fixpoint as fx

        def init(ids):
            rank = np.zeros(len(ids))
            pos, hit = fx.locate(ids, t_ids)  # seeds absent from V drop out
            rank[pos[hit]] = total_trust / n_trusted
            return {"rank": rank}

        spec = power_fixpoint(graph, True, init, 0.0, 1.0)
        res = fx.run(graph, spec, power_iterations, num_partitions)
        res.state = res.state.withColumnRenamed("rank", "send")
    else:
        shares = graph.edges.join(deg.withColumnRenamed("id", "src"), "src").select(
            "src", "dst", (F.col("weight") / F.col("deg")).alias("share")
        )
        # broadcast mode: dst-partitioned scatter layout (see
        # Graph.by_dst); shuffle mode: src layout so the state
        # equi-join co-locates on src
        shares = shares.repartition("dst" if state_broadcast else "src").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        shares.count()

        init_rank = F.when(F.col("is_trusted"), total_trust / n_trusted).otherwise(0.0)
        state0 = (
            vertices.join(trusted.select("id").distinct().withColumn("is_trusted", F.lit(True)), "id", "left")
            .select("id", init_rank.alias("send"))
        )

        def superstep(ss: int, state: DataFrame):
            sends = state.select("id", "send").withColumnRenamed("id", "src")
            if state_broadcast:
                sends = F.broadcast(sends)
            else:
                # stream cached edges vs per-partition trust hash (no SMJ
                # re-sort of the edge set; see pagerank.py shuffle branch)
                sends = sends.hint("shuffle_hash")
            recv = (
                shares.join(sends, "src")
                .select("dst", (F.col("send") * F.col("share")).alias("m"))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("m").alias("recv"))
            )
            new_state = vertices.join(recv, "id", "left").select(
                "id", F.coalesce("recv", F.lit(0.0)).alias("send")
            )
            return new_state, {}

        from contextlib import nullcontext

        with no_adaptive(spark) if state_broadcast else nullcontext():
            res = run_supersteps(state0, superstep, max_supersteps=power_iterations)
    res.state = res.state.join(deg, "id", "left").select(
        "id",
        F.when(F.col("deg") > 0, F.col("send") / F.col("deg")).otherwise(0.0).alias("rank"),
    )
    return res
