"""Connected components — HashMin/HCC min-label propagation.

Reference semantics (graphs/ConnectedComponents.java:42-97): component
id = minimum vertex id reachable; a vertex updates to the min of its
own label and incoming neighbor labels, and propagates ONLY on
improvement (send-on-change, lines 80-94) — the frontier shrinks every
superstep, converging when no label changes. Exact integer fixpoint.

Per-vertex semantics, shared by both modes: a changed vertex sends its
label, a vertex keeps the min of its label and the messages, and the
loop halts when nothing changed. ``mode="csr"`` runs them as a
``Fixpoint`` on the csr runner (plans/csr_fixpoint.py); ``mode="sql"``
as a scatter on the shared sql message plan (plans/scatter.py): its
broadcast layout (zero shuffle exchanges per superstep) or, at
cluster-scale |V|, its salted (src, salt) layout, where
``groupBy(dst).min`` shuffles map-side-combined messages (Giraph's
combiner). Because HashMin's frontier is send-on-change it SHRINKS
every superstep, so once the previous round's changed-count drops
under ``BROADCAST_FRONTIER_ROWS`` the salted loop broadcasts the
frontier into the join — late supersteps on a 10^10-vertex graph
still get the cheap plan.
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


def weight_layout(graph: Graph) -> tuple:
    """(name, frame) of the shared (src, dst, w = weight) csr frame:
    HashMin, SSSP/MSSP, weighted LPA and Spinner lay out the same
    rows."""
    return "w", lambda: graph.edges.select("src", "dst", F.col("weight").alias("w"))


def _hashmin_fixpoint(graph: Graph):
    """csr spec of HashMin in position space: comp[i] is the position
    of the smallest id reached — ids are sorted, so min position IS min
    id. Staged on the shared weighted block set (the weight is unused)."""
    from okapi_spark.plans.csr_fixpoint import Fixpoint

    def merge(state, parts):
        comp, changed = apply_min(state["comp"], parts)
        return {"comp": comp, "changed": changed}, {"changed": int(np.count_nonzero(changed))}

    return Fixpoint(
        *weight_layout(graph),
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
    mode: str = "auto",
) -> BSPResult:
    """Returns BSPResult state (id long, comp long).

    ``state_broadcast``: force the zero-exchange broadcast plan (True),
    the two-shuffle cluster-scale plan (False), or let the ~32 B/vertex
    state vs the broadcast budget pick (None, ``res.plan["layout"]``).
    In shuffle mode the frontier is still broadcast adaptively once its
    row count (known exactly from the previous superstep's
    changed-metric) drops below ``BROADCAST_FRONTIER_ROWS``.

    ``mode="auto"`` (default, round 6): "csr" when byte-safe, without
    a store or an explicit ``state_broadcast`` (a sql-plan knob) and
    with |E| inside the fuse window (the whole fixpoint in the driver,
    no Spark job once the Graph's local layout is built); else "sql".
    HashMin is integer min, so every plan reaches the bit-identical
    fixpoint. ``res.plan`` records the choice and the gate values
    behind it (csr_fixpoint.plan).

    ``mode="csr"``: HashMin on the csr fixpoint runner
    (plans/csr_fixpoint.py) over the Graph's csr layout (local in the
    fuse window, staged blocks beyond) — gated by the same broadcast
    byte budget since the round-0 frontier is |V| rows.
    """
    if mode not in ("auto", "sql", "csr"):
        raise ValueError(f"unknown connected_components mode {mode!r}")
    spark = graph.edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    spec = _hashmin_fixpoint(graph)
    plan = fx.plan(mode, graph, (spec.name, spec.frame), num_partitions, store,
                   state_broadcast, "frontier", 32)
    if plan["resolved"] == "csr":
        res = fx.run(graph, spec, max_supersteps, num_partitions, store)
        res.plan = plan
        return res

    sc = scatter.plan(graph, spec.name, spec.frame, num_partitions, plan["layout"] == "broadcast")
    n_edges = graph.num_edges()
    # frontier size from the previous superstep's metric (|V| at ss 0)
    last_changed = [graph.num_vertices()]

    def superstep(ss: int, state: DataFrame):
        # send-on-change: only the frontier scatters; once it is small
        # enough it is broadcast even over the salted layout
        joined = sc.join(state.filter("changed"), "comp",
                         broadcast=last_changed[0] <= BROADCAST_FRONTIER_ROWS)
        msgs = joined.groupBy(F.col("dst").alias("id")).agg(F.min("comp").alias("cand"))
        new_state = sc.update(
            state, msgs, "id",
            F.least("comp", F.coalesce("cand", "comp")).alias("comp"),
            (F.coalesce("cand", "comp") < F.col("comp")).alias("changed"),
        )

        def post(materialized: DataFrame) -> dict:
            n_changed = materialized.filter("changed").count()
            last_changed[0] = n_changed
            return {"changed": n_changed, "edges_processed": n_edges}

        return new_state, post

    # superstep 0 of the reference folds the local min over neighbors;
    # here the uniform loop does it — same fixpoint, one extra round
    state0 = graph.vertices_by_id(num_partitions).select(
        "id", F.col("id").alias("comp"), F.lit(True).alias("changed"))
    res = sc.run(state0, superstep, max_supersteps, lambda ss, m: m["changed"] == 0, store)
    res.state = res.state.select("id", "comp")
    res.plan = plan
    return res
