"""PageRank — reference semantics from graphs/SimplePageRank.java:44-70.

Per superstep: ``rank(v) = 0.15/N + 0.85 · Σ incoming``, message along
each out-edge = ``rank/outDegree``. The reference halts after a fixed
``pagerank.max.supersteps`` (default 30, SimplePageRank.java:36-38);
the north rule instead requires convergence to max per-vertex delta
< 1e-6, so that is the default here (``max_supersteps`` still caps).

Dangling vertices: the reference's edge-list inputs give every vertex
out-edges, and it never redistributes dangling mass — we preserve that
behavior (a dangling vertex absorbs rank and sends nothing).

Two physical strategies, same fixpoint. The default ``mode="auto"``
picks between them (csr_fixpoint.plan): "csr" when there is no
checkpoint store, no explicit ``state_broadcast`` (a sql-plan knob),
|E| inside the csr fuse window and the rank state inside the broadcast
budget — the whole converged fixpoint is then one Spark job instead of
~3 per superstep — else "sql". ``BSPResult.plan`` records the choice.

* ``mode="sql"`` — messages as an equi-join + hash aggregation.
  Default physical plan (``state_broadcast`` auto when |V| ≤
  ``broadcast_threshold``): ``edges_share`` (src, dst, share=w/Σw) is
  repartitioned by DST and cached once; per superstep the rank state
  is broadcast into the src join and ``groupBy(dst)`` is partition-
  complete — ZERO shuffle exchanges per superstep. (Measured: the
  naive src-partitioned plan builds an O(|V|)-entry partial-agg hash
  map per task, which anti-scales with task count; the dst layout is
  7× faster at 32 cores on 30M edges and actually scales.) With
  ``state_broadcast=False`` (cluster-scale |V|) it falls back to the
  classic two-shuffle plan: state shuffles into the src join,
  Catalyst partial aggregation combines messages map-side.
* ``mode="csr"`` — the csr fixpoint runner (plans/csr_fixpoint.py):
  shares (src, dst, share) are staged ONCE per Graph as dst-hashed,
  dst-sorted memmapped ``.npy`` blocks (plans/csr_blocks.py) and the
  rank state lives on the driver as a NumPy array. A round gathers
  ``rank[src]·share`` through memoized ``searchsorted`` positions and
  sums per dst with ``np.add.reduceat`` — zero per-row Python, zero
  shuffle (a block owns ALL in-edges of its dsts, so its sums are
  final), zero edge bytes across the JVM↔Arrow boundary. Inside the
  fuse window all rounds run in one Spark job; beyond it, or with a
  checkpoint store, one job per round.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.bsp import BSPResult, CheckpointStore, no_adaptive, run_supersteps
from okapi_spark.plans import csr_fixpoint as fx
from okapi_spark.graph.graph import Graph

# sql-mode layout sizing: ~300k edge rows per partition keeps each
# per-superstep task well above the scheduling floor (see pagerank())
_LAYOUT_TARGET_EDGES = 300_000


def pagerank(
    graph: Graph,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    damping: float = 0.85,
    weighted: bool = False,
    mode: str = "auto",
    store: CheckpointStore | None = None,
    num_partitions: int | None = None,
    iterations: int | None = None,
    state_broadcast: bool | None = None,
    broadcast_threshold: int | None = None,
    tol_norm: str = "max",
) -> BSPResult:
    """Returns BSPResult whose state is (id long, rank double) and whose
    ``plan`` records the requested and resolved mode and the gate values.

    ``mode``: "auto" (default) resolves to "csr" when the call is
    fusable — no ``store``, ``state_broadcast`` unset, |E| ≤
    ``csr_fixpoint._FUSE_MAX_EDGES`` and the |V|-row state within the
    broadcast budget — else to "sql". csr and sql reach the same ranks
    within 1e-12.

    ``iterations``: run exactly that many supersteps ignoring ``tol`` —
    the reference's fixed-budget mode (pagerank.max.supersteps=30,
    SimplePageRank.java:36-38) and the oracle-parity mode.

    ``tol_norm``: what ``tol`` bounds. ``"max"`` (default) is the
    north rule's max per-vertex |Δrank| — but it is |V|-coupled: ranks
    scale as 1/|V|, so an absolute 1e-6 threshold admits convergence
    in ever fewer supersteps as the graph grows (measured: 12
    supersteps at |V|=20k, 3 at |V|=2.4M — BENCH.md). ``"l1"`` bounds
    Σ|Δrank| — scale-free since ranks sum to 1, the criterion to use
    at 10^9+ vertices. Both norms are computed by the same scan and
    recorded in metrics_log either way."""
    if tol_norm not in ("max", "l1"):
        raise ValueError(f"unknown tol_norm {tol_norm!r}")
    if mode not in ("auto", "sql", "csr"):
        raise ValueError(f"unknown pagerank mode {mode!r}")
    spark = graph.edges.sparkSession
    width = num_partitions or spark.sparkContext.defaultParallelism
    sql_width = width if num_partitions else _sql_layout_width(graph, width)
    # an explicit state_broadcast is a sql-plan knob: the caller asked
    # for a sql plan
    likely_csr = mode == "csr" or (
        mode == "auto" and store is None and state_broadcast is None
        and graph.num_edges() <= fx._FUSE_MAX_EDGES
    )
    # n counts through (and so fills) the vertex dictionary the likely
    # plan reads: the csr id gather's, or the sql plan's
    graph.vertices_by_id(width if likely_csr else sql_width)
    n = graph.num_vertices()  # scalar memo — no per-call count job
    plan = fx.plan(mode, graph, n, store, broadcast_threshold, "rank",
                   state_broadcast_unset=state_broadcast is None)
    mode = plan["resolved"]
    num_partitions = sql_width if mode == "sql" else width
    if n == 0:
        return BSPResult(spark.createDataFrame([], "id long, rank double"), 0, iterations is None, plan=plan)
    base = (1.0 - damping) / n

    if mode == "csr":
        spec = power_fixpoint(graph, weighted, lambda ids: {"rank": np.full(len(ids), 1.0 / n)},
                              base, damping)
        if iterations is None:
            key = "l1_delta" if tol_norm == "l1" else "max_delta"
            spec.halt = lambda m, history: m[key] < tol
        res = fx.run(graph, spec, iterations if iterations is not None else max_supersteps,
                     num_partitions, store)
        res.plan = plan
        return res

    # memoized one-time layouts (Graph.derived): the vertex dictionary
    # and degree census are pure functions of the edge set, rebuilt per
    # call before round 6 — now built once per Graph and shared across
    # operator calls (guide §2.4: don't recompute what a layout holds)
    vertices = graph.vertices_by_id(num_partitions)
    # share = fraction of rank sent along each out-edge; out_deg kept
    # for the shuffle-mode salting census
    degw = graph.degree_weights()
    shares = _shares(graph, weighted)

    if state_broadcast is None:
        # byte-based gate (VERDICT r3 #4): (id, rank) state ~32B/row
        state_broadcast = plan["state_bytes"] <= plan["state_budget_bytes"]
    n_edges = graph.num_edges()
    if state_broadcast:
        # zero-exchange layout: edges by dst, state broadcast into the
        # src join, groupBy(dst) is partition-complete (Graph.by_dst).
        # Memoized per (weighted, P) — the dst-partitioned share cache
        # is a pure layout of the edge set, shared across calls.
        _sh = shares
        shares = graph.derived(
            ("pr_shares_dst", weighted, num_partitions),
            lambda: _sh.select("src", "dst", "share")
            .repartition(num_partitions, "dst")
            .persist(StorageLevel.MEMORY_AND_DISK),
        )
    else:
        # SALTED co-partitioned layout (north rule: explicit salted-key
        # repartitioning for high-degree skew; see
        # plans.skew.shard_count_expr for the measured rationale).
        # Each src gets nsalt = ceil(out_deg / target) shards with
        # rows spread by hash(dst); the rank state explodes each
        # vertex over ITS OWN nsalt (tail vertices: 1 row), so the
        # exploded state stays ~|V| + a few rows per hub shard.
        from okapi_spark.plans.skew import shard_count_expr

        nsalt_expr = shard_count_expr("out_deg", num_partitions, n_edges)
        shares = (
            shares.select(
                "src", "dst", "share",
                F.pmod(F.xxhash64("dst"), nsalt_expr).cast("int").alias("salt"),
            )
            .repartition(num_partitions, "src", "salt")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nsalt_map = degw.select(
            F.col("src").alias("id"), nsalt_expr.alias("nsalt")
        )
    # materialize once — AQE off for the cache fill (see lpa.py: Spark
    # 4.1.2 TableCacheQueryStageExec recache race on this plan shape)
    with no_adaptive(graph.edges.sparkSession):
        shares.count()

    restore_fn = None
    if not state_broadcast:
        # carry each vertex's shard count in the state so the explode
        # needs no per-superstep join against a salt table
        state0 = vertices.join(nsalt_map, "id", "left").select(
            "id", F.lit(1.0 / n).alias("rank"),
            F.coalesce("nsalt", F.lit(1)).alias("nsalt"),
        )

        # nsalt is plan-dependent (derived from THIS run's parallelism
        # and edge count). A checkpointed state from a crashed run may
        # carry smaller shard counts than the current salted edge
        # layout uses — edges with salt >= the stale nsalt would match
        # no exploded state row and silently drop rank mass. Re-derive
        # on resume instead of trusting the persisted column.
        def restore_fn(df: DataFrame) -> DataFrame:
            return df.drop("nsalt").join(nsalt_map, "id", "left").select(
                "id", "rank", F.coalesce("nsalt", F.lit(1)).alias("nsalt")
            )
    else:
        state0 = vertices.select("id", F.lit(1.0 / n).alias("rank"))

    def superstep(ss: int, state: DataFrame):
        if state_broadcast:
            ranks = F.broadcast(state.select("id", "rank").withColumnRenamed("id", "src"))
            msgs = (
                shares.join(ranks, "src")
                .select("dst", (F.col("rank") * F.col("share")).alias("m"))
                .groupBy("dst")
                .agg(F.sum("m").alias("msum"))
            )
        else:
            # shuffle fallback: explode each vertex over its own shard
            # count and equi-join on (src, salt) — co-partitioned with
            # the cached salted edge layout, so only the ~|V|-row
            # exploded state shuffles. shuffle_hash builds the hash on
            # that small side and STREAMS the edges (a SortMergeJoin
            # would re-sort the edge set every superstep)
            from okapi_spark.plans.skew import explode_shards

            ranks = explode_shards(state, "src", "rank").hint("shuffle_hash")
            msgs = (
                shares.join(ranks, ["src", "salt"])
                .select("dst", (F.col("rank") * F.col("share")).alias("m"))
                .groupBy("dst")
                .agg(F.sum("m").alias("msum"))
            )
        keep = [] if state_broadcast else [state["nsalt"]]
        new_state = (
            state.join(msgs, state["id"] == msgs["dst"], "left")
            .select(
                state["id"],
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))).alias("rank"),
                state["rank"].alias("prev"),
                *keep,
            )
        )
        if iterations is not None:
            # fixed budget: no convergence metric → one action per superstep
            return new_state.drop("prev"), {"edges_processed": n_edges}

        def post(materialized: DataFrame) -> dict:
            # one scan computes both norms; the halt predicate picks
            # per tol_norm and both land in metrics_log/lineage
            agg = materialized.agg(
                F.max(F.abs(F.col("rank") - F.col("prev"))).alias("mx"),
                F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("l1"),
            ).collect()[0]
            return {
                "max_delta": float(agg["mx"]),
                "l1_delta": float(agg["l1"]),
                "edges_processed": n_edges,
            }

        return new_state, post

    # the zero-exchange broadcast plan gains nothing from AQE; its
    # per-job planning overhead is the loop's serial floor
    from contextlib import nullcontext

    with no_adaptive(spark) if state_broadcast else nullcontext():
        result = run_supersteps(
            state0, superstep,
            max_supersteps=iterations if iterations is not None else max_supersteps,
            halt_fn=None if iterations is not None else (
                lambda ss, m: m["l1_delta" if tol_norm == "l1" else "max_delta"] < tol
            ),
            store=store, restore_fn=restore_fn,
        )
    result.state = result.state.select("id", "rank")
    result.plan = plan
    return result


def _sql_layout_width(graph: Graph, parallelism: int) -> int:
    """Scale-adaptive sql layout width (guide §2.2: fewer, larger
    partitions; derived from input size, NOT a local-mode constant): a
    small graph spread over every core pays more per-superstep task
    scheduling than compute — measured at 2.4M edges / 32 cores:
    pagerank_10_sql 2.73s at P=32 vs 1.91s at P=8 (min-of-3). Capped at
    ``parallelism`` so cluster-scale graphs keep one partition per core."""
    return max(1, min(parallelism, -(-graph.num_edges() // _LAYOUT_TARGET_EDGES)))


def _shares(graph: Graph, weighted: bool) -> DataFrame:
    """(src, dst, share, out_deg): share = fraction of rank sent along
    each out-edge (w/Σw or 1/out_deg); out_deg feeds the salting census."""
    share = (F.col("weight") / F.col("wsum")) if weighted else (F.lit(1.0) / F.col("out_deg"))
    return graph.edges.join(graph.degree_weights(), "src").select(
        "src", "dst", share.alias("share"), "out_deg"
    )


def power_fixpoint(graph: Graph, weighted: bool, init, base: float, damping: float):
    """csr spec of one power-iteration round over the staged shares,
    ``rank' = base + damping · Σ rank[src]·share`` (PageRank; SybilRank
    is base=0, damping=1 over the weighted shares). Dsts with no
    in-edge get ``base``; both norms of Δrank are the metrics."""
    from okapi_spark.plans.csr_fixpoint import Fixpoint

    def merge(state, parts):
        r = state["rank"]
        new = np.full(len(r), base, dtype="float64")
        for pos, msum in parts:
            new[pos] = base + damping * msum
        d = np.abs(new - r)
        return {"rank": new}, {"max_delta": float(d.max()) if len(d) else 0.0, "l1_delta": float(d.sum())}

    return Fixpoint(
        "pr_w" if weighted else "pr",
        lambda: _shares(graph, weighted).select("src", "dst", "share"), init, _power_step, merge,
        lambda ids, state: pd.DataFrame({"id": ids, "rank": state["rank"]}),
        "id long, rank double", resolve=_segments,
    )


def _segments(blk, ids) -> dict:
    """Round-invariant gather positions, dst segment starts and the
    segments' scatter positions of one dst-sorted share block."""
    dst = blk["dst"]
    starts = np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
    return {
        "spos": np.searchsorted(ids, blk["src"]), "starts": starts,
        "udpos": np.searchsorted(ids, dst[starts]),
    }


def _power_step(state, blk, res):
    # dst-sorted layout ⇒ per-dst sums are a sequential segment-reduce
    return res["udpos"], np.add.reduceat(state["rank"][res["spos"]] * blk["share"], res["starts"])
