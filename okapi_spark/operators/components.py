"""Connected components — HashMin/HCC min-label propagation.

Reference semantics (graphs/ConnectedComponents.java:42-97): component
id = minimum vertex id reachable; a vertex updates to the min of its
own label and incoming neighbor labels, and propagates ONLY on
improvement (send-on-change, lines 80-94) — the frontier shrinks every
superstep, converging when no label changes. Exact integer fixpoint.

Spark plan per superstep — two physical strategies, same fixpoint:

* broadcast mode (auto when |V| ≤ ``broadcast_threshold``): edges
  cached partitioned by dst, frontier broadcast into the src join →
  groupBy(dst).min is partition-complete, ZERO shuffle exchanges.
* shuffle mode (cluster-scale |V|): edges cached in the degree-
  proportional SALTED (src, salt) layout (plans.skew — hub edge lists
  otherwise serialize the join behind one task); the frontier explodes
  over each vertex's shard count, shuffles into the co-partitioned
  join, and groupBy(dst) shuffles messages (map-side partial min =
  Giraph's combiner). Because HashMin's frontier is send-on-change it
  SHRINKS every superstep, so once the previous round's changed-count
  drops under ``BROADCAST_FRONTIER_ROWS`` the loop flips the frontier
  side to a broadcast join adaptively — late supersteps on a
  10^10-vertex graph still get the cheap plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.bsp import BSPResult, CheckpointStore, no_adaptive, run_supersteps
from okapi_spark.graph.graph import Graph
from okapi_spark.plans import csr_fixpoint as fx

# below this many frontier rows, hint a broadcast join into the scatter
BROADCAST_FRONTIER_ROWS = 2_000_000


def relax_min(vals, changed, spos, dpos, w=None):
    """One send-on-change min-relaxation round over one dst-sorted block
    (HashMin with ``w=None``, shortest paths with edge weights ``w``):
    only edges whose src changed last round send, the dst-sorted layout
    survives the mask, and per-dst minima are a ``minimum.reduceat``.
    Returns (dst positions, candidate minima)."""
    valid = changed[spos]
    if not valid.any():
        return dpos[:0], vals[:0]
    dst_v = dpos[valid]
    cand_v = vals[spos[valid]] if w is None else vals[spos[valid]] + w[valid]
    starts = np.flatnonzero(np.r_[True, dst_v[1:] != dst_v[:-1]])
    return dst_v[starts], np.minimum.reduceat(cand_v, starts)


def apply_min(vals, parts):
    """Merge ``relax_min`` parts: a vertex takes a candidate only when it
    improves (exact min). Returns (new values, changed mask)."""
    new, changed = vals.copy(), np.zeros(len(vals), dtype=bool)
    for tgt, cand in parts:
        m = cand < vals[tgt]
        new[tgt[m]] = cand[m]
        changed[tgt[m]] = True
    return new, changed


def _hashmin_fixpoint(graph: Graph):
    """csr spec of HashMin in position space: comp[i] is the position
    of the smallest id reached — ids are sorted, so min position IS min
    id. Staged on the shared weighted block set (the weight is unused)."""
    from okapi_spark.plans.csr_fixpoint import Fixpoint

    def merge(state, parts):
        comp, changed = apply_min(state["comp"], parts)
        return {"comp": comp, "changed": changed}, {"changed": int(np.count_nonzero(changed))}

    return Fixpoint(
        "w", lambda: graph.edges.select("src", "dst", F.col("weight").alias("w")),
        lambda ids: {"comp": np.arange(len(ids)), "changed": np.ones(len(ids), dtype=bool)},
        lambda st, blk, res: relax_min(st["comp"], st["changed"], res["spos"], res["dpos"]),
        merge,
        lambda ids, st: pd.DataFrame({"id": ids, "comp": ids[st["comp"]]}),
        "id long, comp long",
        halt=lambda m, history: m["changed"] == 0,
        id_cols=("comp",),
    )


def connected_components(
    graph: Graph,
    max_supersteps: int = 200,
    store: CheckpointStore | None = None,
    num_partitions: int | None = None,
    state_broadcast: bool | None = None,
    broadcast_threshold: int | None = None,
    frontier_broadcast_rows: int | None = None,
    mode: str = "auto",
) -> BSPResult:
    """Returns BSPResult state (id long, comp long).

    ``state_broadcast``: force the zero-exchange broadcast plan (True),
    the two-shuffle cluster-scale plan (False), or auto by |V| vs
    ``broadcast_threshold`` (None). In shuffle mode the frontier is
    still broadcast adaptively once its row count (known exactly from
    the previous superstep's changed-metric) drops below
    ``BROADCAST_FRONTIER_ROWS``.

    ``mode="auto"`` (default, round 6): "csr" when byte-safe, without
    a store and with |E| inside the fuse window (the whole fixpoint in
    one Spark job); else "sql". HashMin is integer min, so every plan
    reaches the bit-identical fixpoint. ``res.plan`` records the choice
    and the gate values behind it (csr_fixpoint.plan).

    ``mode="csr"``: HashMin on the csr fixpoint runner
    (plans/csr_fixpoint.py) over resident staged CSR blocks — gated by
    the same broadcast byte budget since the round-0 frontier is |V|
    rows.
    """
    if mode not in ("auto", "sql", "csr"):
        raise ValueError(f"unknown connected_components mode {mode!r}")
    spark = graph.edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    # memoized vertex dictionary (Graph.derived) — rebuilt per call
    # before round 6
    vertices = graph.vertices_by_id(num_partitions)
    n = graph.num_vertices()  # scalar memo — no per-call count job
    plan = fx.plan(mode, graph, n, store, broadcast_threshold, "frontier")
    mode = plan["resolved"]
    if state_broadcast is None:
        # byte-based gate (kcore.py precedent; VERDICT r3 #4): (id, comp)
        # state ~32B/row incl. broadcast-relation overhead vs 256MB budget
        state_broadcast = plan["state_bytes"] <= plan["state_budget_bytes"]
    if frontier_broadcast_rows is None:
        frontier_broadcast_rows = BROADCAST_FRONTIER_ROWS

    if mode == "csr":
        res = fx.run(graph, _hashmin_fixpoint(graph), max_supersteps, num_partitions, store)
        res.plan = plan
        return res

    n_edges = graph.num_edges()
    restore_fn = None
    if state_broadcast:
        # dst-partitioned scatter layout: frontier broadcast + partition-
        # complete min-agg ⇒ zero shuffle exchanges per superstep
        edges = graph.by_dst(num_partitions).select("src", "dst")
        # superstep 0 of the reference folds the local min over
        # neighbors; here the uniform loop does it — same fixpoint,
        # one extra round.
        state0 = vertices.select("id", F.col("id").alias("comp"), F.lit(True).alias("changed"))
    else:
        # cluster-scale: SALTED (src, salt) layout (plans.skew) — the
        # early-round frontier is ~|V| rows and a power-law hub's edge
        # list in one task would skew-bind the join exactly as in
        # pagerank's fallback; degree-proportional sharding rebalances
        # it, and the shrinking frontier still flips to a broadcast
        # join below frontier_broadcast_rows
        from okapi_spark.plans.skew import shard_count_expr

        degw = graph.edges.groupBy("src").agg(F.count("*").alias("out_deg"))
        nsalt_expr = shard_count_expr("out_deg", num_partitions, n_edges)
        edges = (
            graph.edges.join(degw, "src")
            .select(
                "src", "dst",
                F.pmod(F.xxhash64("dst"), nsalt_expr).cast("int").alias("salt"),
            )
            .repartition(num_partitions, "src", "salt")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # AQE off for the one-time cache fill (see lpa.py: Spark 4.1.2
        # TableCacheQueryStageExec recache race on this plan shape)
        with no_adaptive(graph.edges.sparkSession):
            edges.count()
        nsalt_map = degw.select(F.col("src").alias("id"), nsalt_expr.alias("nsalt"))
        state0 = vertices.join(nsalt_map, "id", "left").select(
            "id", F.col("id").alias("comp"), F.lit(True).alias("changed"),
            F.coalesce("nsalt", F.lit(1)).alias("nsalt"),
        )

        # nsalt is plan-dependent; re-derive on checkpoint resume
        def restore_fn(df: DataFrame) -> DataFrame:
            return df.drop("nsalt").join(nsalt_map, "id", "left").select(
                "id", "comp", "changed", F.coalesce("nsalt", F.lit(1)).alias("nsalt")
            )

    # frontier size from the previous superstep's metric (|V| at ss 0)
    last_changed = [n]

    def superstep(ss: int, state: DataFrame):
        if state_broadcast or last_changed[0] <= frontier_broadcast_rows:
            frontier = F.broadcast(
                state.filter("changed").select(F.col("id").alias("src"), "comp")
            )
            joined = edges.join(frontier, "src")
        else:
            # explode the frontier over each vertex's shard count and
            # equi-join on (src, salt) — co-partitioned with the cached
            # salted edge layout; shuffle_hash streams the edges (no
            # SortMergeJoin re-sort; see pagerank.py shuffle branch)
            from okapi_spark.plans.skew import explode_shards

            frontier = explode_shards(
                state.filter("changed"), "src", "comp"
            ).hint("shuffle_hash")
            joined = edges.join(frontier, ["src", "salt"])
        msgs = joined.groupBy(F.col("dst").alias("id")).agg(F.min("comp").alias("cand"))
        keep = [] if state_broadcast else [state["nsalt"]]
        new_state = state.join(msgs, "id", "left").select(
            "id",
            F.least("comp", F.coalesce("cand", "comp")).alias("comp"),
            (F.coalesce("cand", "comp") < F.col("comp")).alias("changed"),
            *keep,
        )

        def post(materialized: DataFrame) -> dict:
            n_changed = materialized.filter("changed").count()
            last_changed[0] = n_changed
            return {"changed": n_changed, "edges_processed": n_edges}

        return new_state, post

    from contextlib import nullcontext

    with no_adaptive(spark) if state_broadcast else nullcontext():
        res = run_supersteps(
            state0,
            superstep,
            max_supersteps=max_supersteps,
            halt_fn=lambda ss, m: m["changed"] == 0,
            store=store,
            restore_fn=restore_fn,
        )
    res.state = res.state.select("id", "comp")
    res.plan = plan
    return res
