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
budget — the whole converged fixpoint then runs in the driver after one
edge gather, instead of ~3 Spark jobs per superstep — else "sql".
``BSPResult.plan`` records the choice.

* ``mode="sql"`` — ``power_sql``: per superstep one scatter of
  ``rank·share`` over the (src, dst, share) frame, summed per dst, on
  the shared sql message plan (plans/scatter.py). Its zero-exchange
  broadcast layout runs while the ~32 B/vertex rank state fits the
  broadcast budget, else its salted (src, salt) shuffle layout
  (``res.plan["layout"]``); ``state_broadcast`` forces one.
* ``mode="csr"`` — the csr fixpoint runner (plans/csr_fixpoint.py):
  shares (src, dst, share) are laid out ONCE per Graph as dst-sorted
  blocks and the rank state lives on the driver as a NumPy array. A
  round gathers ``rank[src]·share`` through memoized ``searchsorted``
  positions and sums per dst with ``np.add.reduceat`` — zero per-row
  Python, zero shuffle (a block owns ALL in-edges of its dsts, so its
  sums are final). Inside the fuse window the shares are gathered into
  the driver once and every round runs there, with or without a
  checkpoint store; beyond it they are staged as memmapped ``.npy``
  blocks (plans/csr_blocks.py) and each round is one Spark job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from okapi_spark.bsp import BSPResult, CheckpointStore
from okapi_spark.graph.graph import Graph
from okapi_spark.plans import csr_fixpoint as fx
from okapi_spark.plans import scatter


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
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    # |V| from the local layout on in-window csr calls, else counted
    # through (and so filling) the vertex dictionary the sql plan's
    # state0 and the staged id gather read
    plan = fx.plan(mode, graph, share_layout(graph, weighted), num_partitions, store,
                   state_broadcast, "rank", 32)
    n = graph.num_vertices()  # scalar memo — no per-call count job
    if n == 0:
        return BSPResult(spark.createDataFrame([], "id long, rank double"), 0, iterations is None, plan=plan)
    base = (1.0 - damping) / n
    rounds = iterations if iterations is not None else max_supersteps
    key = "l1_delta" if tol_norm == "l1" else "max_delta"
    halt = None if iterations is not None else (lambda m: m[key] < tol)

    if plan["resolved"] == "csr":
        spec = power_fixpoint(graph, weighted, lambda ids: {"rank": np.full(len(ids), 1.0 / n)},
                              base, damping)
        if halt is not None:
            spec.halt = lambda m, history: halt(m)
        res = fx.run(graph, spec, rounds, num_partitions, store)
    else:
        state0 = graph.vertices_by_id(num_partitions).select("id", F.lit(1.0 / n).alias("rank"))
        res = power_sql(graph, weighted, state0, base, damping, num_partitions,
                        plan["layout"] == "broadcast", rounds, halt, store)
    res.plan = plan
    return res


def _shares(graph: Graph, weighted: bool) -> DataFrame:
    """(src, dst, share): share = fraction of rank sent along each
    out-edge (w/Σw or 1/out_deg) — the frame both modes lay out."""
    share = (F.col("weight") / F.col("wsum")) if weighted else (F.lit(1.0) / F.col("out_deg"))
    return graph.edges.join(graph.degree_weights(), "src").select("src", "dst", share.alias("share"))


def share_layout(graph: Graph, weighted: bool) -> tuple:
    """(name, frame) of the share frame, the key every layout of it is
    memoized under."""
    return ("pr_w" if weighted else "pr"), lambda: _shares(graph, weighted)


def power_sql(graph: Graph, weighted: bool, state0: DataFrame, base: float, damping: float,
              P: int, broadcast: bool, rounds: int, halt=None,
              store: CheckpointStore | None = None) -> BSPResult:
    """sql mirror of ``power_fixpoint`` over the same shares: per
    superstep one scatter (plans/scatter.py) of ``rank·share`` summed
    per dst, ``rank' = base + damping · msum``. With ``halt(metrics)``
    one scan of the materialized state computes both norms of Δrank;
    without it the rounds are fixed and cost no metric action."""
    sc = scatter.plan(graph, *share_layout(graph, weighted), P, broadcast)
    n_edges = graph.num_edges()

    def superstep(ss: int, state: DataFrame):
        msgs = (
            sc.join(state, "rank")
            .select("dst", (F.col("rank") * F.col("share")).alias("m"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("m").alias("msum"))
        )
        rank = (F.lit(base) + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))).alias("rank")
        if halt is None:
            return sc.update(state, msgs, "id", rank), {"edges_processed": n_edges}

        def post(materialized: DataFrame) -> dict:
            # one scan computes both norms; the halt predicate picks
            # per tol_norm and both land in metrics_log/lineage
            agg = materialized.agg(
                F.max(F.abs(F.col("rank") - F.col("prev"))).alias("mx"),
                F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("l1"),
            ).collect()[0]
            return {"max_delta": float(agg["mx"]), "l1_delta": float(agg["l1"]), "edges_processed": n_edges}

        return sc.update(state, msgs, "id", rank, state["rank"].alias("prev")), post

    res = sc.run(state0, superstep, rounds, None if halt is None else (lambda ss, m: halt(m)), store)
    res.state = res.state.select("id", "rank")
    return res


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
        *share_layout(graph, weighted), init, _power_step, merge,
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
