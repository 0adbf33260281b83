"""Label propagation — classic LPA and Spinner's balanced variant.

Classic LPA (community detection): every vertex starts with its own
id as label; each synchronous round it adopts the label with the
highest total incoming edge weight, ties broken by the SMALLEST label
— fully deterministic and partitioning-independent. (The reference's
Spinner, spinner/Spinner.java:186-204, builds exactly this
neighbor-label histogram before applying its balance penalty.)

Synchronous LPA can 2-cycle on bipartite structures, so the loop
halts on no-change OR on an exact repeat of an earlier label state,
with ``max_supersteps`` as the backstop; a fixed ``iterations`` mode exists
for oracle parity (the DuckDB oracle unrolls the same rounds).

Balanced mode (``spinner_partition``) implements Spinner's scoring
(spinner/Spinner.java:259-290): score(v, l) = freq(l in nbrhood)/deg
− λ·load(l)/capacity, with per-label loads collected driver-side each
round (the persistent-aggregator feedback loop, :586-597) and
probabilistic migration damped by remaining capacity (:341-418) made
deterministic via hash-derived per-(vertex, round) uniforms.

Both run on the engine's shared plans, reduced to their per-vertex
semantics: ``mode="sql"`` on the sql message plan (plans/scatter.py:
broadcast or salted edge layout, memoized on the Graph), ``mode="csr"``
on the staged CSR blocks (plans/csr_fixpoint.py), the mode chosen and
recorded in ``BSPResult.plan`` by ``csr_fixpoint.plan``.
"""

from __future__ import annotations

import hashlib
import math
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.bsp import BSPResult, CheckpointStore
from okapi_spark.graph.graph import Graph
from okapi_spark.hashing import hash_uniform
from okapi_spark.operators.components import weight_layout
from okapi_spark.plans import csr_fixpoint as fx
from okapi_spark.plans.csr_blocks import choose_task_count
from okapi_spark.plans import scatter


def _block_part_hist(blk, ids, part):
    """Spinner's neighbor-partition weight histogram over one staged
    block: the (dst, partition-of-src, Σw) rows of the sql plan's
    ``edges ⋈ labels → groupBy(dst, spart)``, by a sorted segment-reduce
    (fused-key sort + add.reduceat) instead of the JVM hash aggregation
    — the hash agg touches up-to-|E| distinct (dst, part) groups through
    random access, which is what DRAM-binds the sql plans at 10^8-edge
    scale (BENCH.md "LPA broadcast floor decomposition"); the sort is
    sequential-bandwidth-friendly."""
    dst_sorted, w_sorted = blk["dst"], blk["w"]
    lab = part[np.searchsorted(ids, blk["src"])]  # gather src partitions
    # Both keys are below maxv, so below ~3×10⁹ vertices the pair packs
    # into one int64 and a single argsort replaces the two-pass lexsort
    # (~2× less per-round sort bandwidth — this sort is the kernel's hot
    # loop, paid every round because partitions change; the dst-sorted
    # pack is paid once at staging).
    maxv = int(ids[-1]) + 1 if len(ids) else 1
    if maxv <= (1 << 31):
        order = np.argsort(dst_sorted * maxv + lab)
    else:
        order = np.lexsort((lab, dst_sorted))
    g_dst = dst_sorted[order]
    g_lbl = lab[order]
    grp = np.flatnonzero(np.r_[True, (g_dst[1:] != g_dst[:-1]) | (g_lbl[1:] != g_lbl[:-1])])
    return pd.DataFrame({
        "id": g_dst[grp], "cand": g_lbl[grp].astype("int32"), "w": np.add.reduceat(w_sorted[order], grp),
    })


def _block_active_dsts(blk, moved):
    """Spinner's isActive gating over one staged block: its dsts with at
    least one migrated in-neighbor (the sql plan's ``edges ⋈ moved →
    distinct(dst)``). Each block owns all in-edges of its dsts, so the
    per-block distinct is global."""
    _, hit = fx.locate(moved, blk["src"])
    dst = blk["dst"][hit]  # dst-sorted ⇒ uniques are run starts
    return pd.DataFrame({"id": dst[np.r_[True, dst[1:] != dst[:-1]]]}) if len(dst) else None


def _block_map(spark, layout: tuple, P: int, k_tasks: int, df: DataFrame, n_rows: int,
               cols: list, fn, schema: str, bcasts: list) -> DataFrame:
    """One zero-exchange job over the resident staged blocks: gather
    ``df``'s id-sorted ``cols`` (csr_fixpoint.gather_sorted_arrays),
    broadcast them — appended to ``bcasts``, which the caller destroys
    once the round has consumed the job — and yield ``fn(blk, ids,
    *cols)`` for each non-empty block."""
    from okapi_spark.plans.csr_blocks import load_block, pid_frame

    ids, vals = fx.gather_sorted_arrays(df, n_rows, cols)
    b = spark.sparkContext.broadcast((ids, *vals))
    bcasts.append(b)
    tag, epoch, bdir = layout

    def kernel(pdf_iter):
        for pdf in pdf_iter:
            for pid in pdf["pid"].tolist():
                blk = load_block(tag, epoch, int(pid), bdir)
                if blk is not None and len(blk["dst"]):
                    out = fn(blk, *b.value)
                    if out is not None:
                        yield out

    return pid_frame(spark, P, k_tasks).mapInPandas(kernel, schema=schema)


def _lpa_step(state, blk, res):
    """One LPA round over one block in POSITION space: labels are
    positions into the sorted id array, so index order IS id order and
    the min-label tie-break carries over unchanged. Histogram by a
    STABLE sort of the fused (dst, label) key + ``add.reduceat`` — each
    group keeps the block's canonical (dst, src, w) row order, so its
    weight sum is bit-identical in every placement — then the per-dst
    argmax: max summed weight, ties to the smallest label. Returns
    (dsts, labels)."""
    lbl = state["lbl"]
    nn = len(lbl)
    key = res["dpos"] * nn + lbl[res["spos"]]
    order = np.argsort(key, kind="stable")
    g_key = key[order]
    grp = np.flatnonzero(np.r_[True, g_key[1:] != g_key[:-1]])
    sums = np.add.reduceat(blk["w"][order], grp)
    grp_dst = g_key[grp] // nn
    grp_lbl = g_key[grp] - grp_dst * nn
    dgrp = np.flatnonzero(np.r_[True, grp_dst[1:] != grp_dst[:-1]])
    wmax = np.maximum.reduceat(sums, dgrp)
    is_max = sums == np.repeat(wmax, np.diff(np.r_[dgrp, len(sums)]))
    cand = np.where(is_max, grp_lbl, np.iinfo(np.int64).max)
    return grp_dst[dgrp], np.minimum.reduceat(cand, dgrp)


def _lpa_fixpoint(graph: Graph, weighted: bool, converge: bool):
    """csr spec of classic LPA. Convergence mode halts on no change or
    on an exact repeat of the label state (digest of the label array,
    only computed in that mode — fixed-iteration runs have no halt)."""
    from okapi_spark.plans.csr_fixpoint import Fixpoint

    def merge(state, parts):
        lbl = state["lbl"]
        new = lbl.copy()
        for dst, best in parts:
            new[dst] = best
        m = {"changed": int(np.count_nonzero(new != lbl))}
        if converge:
            digest = hashlib.blake2b(new.tobytes(), digest_size=8).digest()
            m["state_hash"] = int.from_bytes(digest, "little", signed=True)
        return {"lbl": new}, m

    def halt(m, history):
        return m["changed"] == 0 or any(h.get("state_hash") == m["state_hash"] for h in history)

    layout = weight_layout(graph) if weighted else (
        "w1", lambda: graph.edges.select("src", "dst", F.lit(1.0).alias("w")))
    return Fixpoint(
        *layout, lambda ids: {"lbl": np.arange(len(ids))}, _lpa_step, merge,
        lambda ids, st: pd.DataFrame({"id": ids, "lbl": ids[st["lbl"]]}),
        "id long, lbl long", halt=halt if converge else None, id_cols=("lbl",),
    )


def _argmax_label(msgs: DataFrame, key: str = "id") -> DataFrame:
    """(key, lbl) with max weight, tie → min label: one hash agg via
    max(struct(w, -lbl)) — no window, no second shuffle."""
    return (
        msgs.groupBy(key)
        .agg(F.max(F.struct(F.col("w"), (-F.col("lbl")).alias("neg"))).alias("m"))
        .select(key, (-F.col("m.neg")).alias("new_lbl"))
    )


def label_propagation(
    graph: Graph,
    max_supersteps: int = 50,
    iterations: int | None = None,
    weighted: bool = True,
    store: CheckpointStore | None = None,
    num_partitions: int | None = None,
    state_broadcast: bool | None = None,
    mode: str = "auto",
) -> BSPResult:
    """Classic synchronous LPA. Returns state (id long, lbl long).

    ``iterations``: run exactly that many rounds (oracle-parity mode);
    otherwise run to no-change / oscillation / max_supersteps.

    ``mode="sql"``: per round one scatter of the source labels on the
    shared sql message plan (plans/scatter.py), then the (dst, label)
    weight histogram and its argmax. LPA's label state is a full |V|-row
    table every round (unlike CC there is no shrinking frontier), so the
    zero-exchange broadcast layout runs only while the ~40 B/vertex
    state fits the broadcast budget; above it the salted layout runs
    (the exploded state shuffles into the src join, the histogram agg
    combines map-side). ``res.plan["layout"]`` records which;
    ``state_broadcast`` forces one.

    ``mode="auto"`` (default, round 6): "csr" when it is
    measured-better and byte-safe — fixed-iteration runs without a
    store or an explicit ``state_broadcast`` (a sql-plan knob), |E|
    within the fuse window (all rounds in the driver, no Spark job once
    the Graph's local layout is built), label state within the
    broadcast budget. Everything else resolves to "sql".
    ``res.plan`` records the choice and the gate values behind it
    (csr_fixpoint.plan).

    ``mode="csr"``: LPA on the csr fixpoint runner
    (plans/csr_fixpoint.py) over the Graph's csr layout (local in the
    fuse window, staged blocks beyond) — the north-rule physical form. Identical results to the sql plans
    (parity-tested); same byte gate as the broadcast plan since the
    label state is NumPy-broadcast.
    """
    if mode not in ("auto", "sql", "csr"):
        raise ValueError(f"unknown lpa mode {mode!r}")
    spark = graph.edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    spec = _lpa_fixpoint(graph, weighted, converge=iterations is None)
    # auto picks csr only for fixed-iteration runs (measured-better
    # there; convergence runs stay on sql)
    plan = fx.plan(mode, graph, (spec.name, spec.frame), num_partitions, store,
                   state_broadcast, "label", 40, fixed_iterations=iterations is not None)
    if plan["resolved"] == "csr":
        res = fx.run(graph, spec, iterations if iterations is not None else max_supersteps,
                     num_partitions, store)
        res.plan = plan
        return res

    sc = scatter.plan(graph, spec.name, spec.frame, num_partitions, plan["layout"] == "broadcast")

    def superstep(ss: int, state: DataFrame):
        hist = (
            sc.join(state, "lbl")
            .groupBy(F.col("dst").alias("id"), "lbl")
            .agg(F.sum("w").alias("w"))
        )
        new_state = sc.update(
            state, _argmax_label(hist), "id",
            F.coalesce("new_lbl", "lbl").alias("lbl"),
            (F.coalesce("new_lbl", "lbl") != F.col("lbl")).alias("changed"),
        )

        def post(materialized: DataFrame) -> dict:
            aggs = [F.count(F.when(F.col("changed"), F.lit(1))).alias("c")]
            if iterations is None:
                # order-insensitive state fingerprint (xor never
                # overflows, unlike an ANSI-mode long sum); ids are
                # unique so no (id,lbl) pair can self-cancel. Only
                # computed in convergence mode — fixed-iteration runs
                # have no halt check, so the full-state aggregation
                # would be pure per-superstep overhead.
                aggs.append(F.expr("bit_xor(xxhash64(id, lbl))").alias("h"))
            row = materialized.agg(*aggs).collect()[0]
            out = {"changed": int(row["c"])}
            if iterations is None:
                out["state_hash"] = int(row["h"] or 0)  # bit_xor of no rows is NULL
            return out

        return new_state, post

    if iterations is not None:
        halt = None
        max_ss = iterations
    else:
        # oscillation ledger; on checkpoint resume, rehydrate it from
        # the store's lineage (each completed superstep logged its
        # state_hash) — otherwise a resumed oscillating run needs up
        # to one extra full cycle to re-detect the repeat
        seen: set[int] = set()
        if store is not None:
            seen = {
                int(e["metrics"]["state_hash"])
                for e in store.lineage()
                if "state_hash" in e.get("metrics", {})
            }

        def halt(ss: int, m: dict) -> bool:
            # oscillation = the exact label STATE repeats (bipartite
            # 2-cycles etc.); equal consecutive changed-COUNTS while
            # labels are still moving must NOT halt (their hashes differ)
            h = m["state_hash"]
            osc = h in seen
            seen.add(h)
            return m["changed"] == 0 or osc

        max_ss = max_supersteps

    state0 = graph.vertices_by_id(num_partitions).select("id", F.col("id").alias("lbl"))
    res = sc.run(state0, superstep, max_ss, halt, store)
    res.state = res.state.select("id", "lbl")
    res.plan = plan
    return res


def spinner_partition(
    graph: Graph,
    k: int = 8,
    lam: float = 1.0,
    additional_capacity: float = 0.05,
    max_iterations: int = 290,
    threshold: float = 0.001,
    window: int = 5,
    seed: int = 42,
    prior: DataFrame | None = None,
    repartition: int = 0,
    num_partitions: int | None = None,
    state_broadcast: bool | None = None,
    mode: str = "sql",
) -> BSPResult:
    """Spinner balanced k-way partitioning — spinner/Spinner.java:103-736,
    full protocol. state (id long, part int).

    ``mode="sql"`` (default): the two |E|-scale joins per round — the
    ComputeNewPartition histogram ``edges ⋈ labels → groupBy(dst,
    spart)`` and the isActive gating ``edges ⋈ moved → distinct(dst)``
    — run on the shared sql message plan (plans/scatter.py) over the
    symmetrized (src, dst, w) edges: the zero-exchange broadcast layout
    while the ~40 B/row (id, deg, wdeg, part) state fits the broadcast
    budget (csr_fixpoint.plan, like LPA's; ``state_broadcast`` forces
    one), else the salted (src, salt) layout, the state then carrying
    each vertex's ``nsalt``. ``mode="csr"``: the same two jobs run over
    resident staged CSR blocks (``_block_map``); every |V|-scale scoring /
    migration step, including the hash-uniform coin flips, is the SAME
    SQL in both modes, so the protocol is identical by construction.
    ``res.plan`` records the mode and the byte gate
    (csr_fixpoint.plan); an explicit "csr" whose state would not fit
    the broadcast budget is rejected.

    Faithful pieces (reference file:line):

    * **Graph conversion**: ConverterPropagate → ConverterUpdateEdges
      (:431-448, :526-556) make the input undirected — here one
      ``Graph.symmetrize()``.
    * **Init** (:425-466): prior partitions loaded from a side table
      (``prior`` = SpinnerVertexValueInputFormat analogue, :919-954),
      unassigned vertices hash-assigned uniformly over [0, k).
    * **Repartition adaptation** (Repartitioner, :467-524): with
      ``repartition`` ≠ 0 the label space becomes k+repartition;
      down-scale moves orphaned vertices uniformly into the survivors,
      up-scale moves any vertex into a new label with probability
      repartition/(k+repartition).
    * **Score** (:259-290): H(v,l) = λ + freq(l)/Σw − λ·ceil₃(load(l)/C),
      loads in EDGE COUNTS (requestMigration/migrate aggregate
      numberOfEdges, :157-165/:352-366), C = |E|·(1+additionalCapacity)
      / (k+repartition) (:329-332), ceil₃ = ceil at 3 decimals
      (computeW, :148-152). Candidates are ALL labels (:267) — but for
      any label absent from the neighborhood H = λ(1−ceil₃(load/C)) is
      vertex-independent, so the per-round argmax over absent labels is
      one constant (min-load, min-index) candidate row per vertex
      instead of a |V|×k cross join. Ties prefer the current partition,
      then the smallest label (the reference's deterministic
      chooseMinLabelPartition, :226-240; its default random tie-break
      :206-224 is not reproducible).
    * **Active gating** (:295-313): a vertex requests migration only if
      a neighbor migrated in the previous round (isActive).
    * **Migration probability** (ComputeMigration.preSuperstep,
      :389-418): prob(l) = remaining(l)/demand(l) with remaining =
      C − load(l), 0 if demand = 0 or remaining ≤ 0 — the reference's
      actual damping, NOT a head-room fraction; demand = Σ numEdges of
      requesters (:161-162). Decided by hash-derived per-(vertex,
      round) uniforms for determinism.
    * **Counters** (:600-698): per-round migrations, local-edge %,
      max/min load unbalance, max normalized load, total score — in
      ``metrics_log``.
    * **Convergence** (algorithmConverged, :637-655): halt when
      |1 − score/max(last ``window`` scores)| < threshold, checked
      BEFORE the migration phase of the round (master halts the
      migration superstep, :700-736), after window warm-up.
    """
    if mode not in ("sql", "csr"):
        raise ValueError(f"unknown spinner mode {mode!r}")
    spark = graph.edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    k_total = k + repartition
    if k_total <= 0:
        raise ValueError("k + repartition must be positive")

    g = graph.symmetrize()
    bcasts: list = []  # the csr block jobs' broadcasts of the current round

    def release() -> None:
        while bcasts:
            bcasts.pop().destroy()

    try:
        n = g.num_vertices()
        plan = fx.plan(mode, g, None, num_partitions, None, state_broadcast, "partition", 40)
        total_edges = g.num_edges()  # directed count of the symmetrized graph
        capacity = total_edges * (1.0 + additional_capacity) / k_total

        name, frame = weight_layout(g)
        sc = None
        if mode == "csr":
            layout = fx.stage(g, name, frame, num_partitions)
            k_tasks = choose_task_count(total_edges, num_partitions)
        else:
            sc = scatter.plan(g, name, frame, num_partitions, plan["layout"] == "broadcast")
        # the salted layout's join explodes each state row over its nsalt
        shards = [] if sc is None or sc.broadcast else ["nsalt"]
        vcols = ["id", "deg", "wdeg", *shards]

        # --- init + optional prior + repartition adaptation ---------------
        # every vertex of the symmetrized graph is a src, so the memoized
        # degree census is the vertex table (deg = edges, wdeg = Σw)
        vertices = g.degree_weights().select(
            F.col("src").alias("id"), F.col("out_deg").alias("deg"), F.col("wsum").alias("wdeg")
        )
        if shards:
            vertices = sc.with_shards(vertices, deg="deg")
        part = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(k)).cast("int")
        if prior is not None:
            vertices = vertices.join(
                prior.select("id", F.col("part").cast("int").alias("prior_part")), "id", "left"
            )
            part = F.coalesce("prior_part", part)
        if repartition < 0:
            down = F.pmod(F.xxhash64("id", F.lit("down"), F.lit(seed)), F.lit(k_total)).cast("int")
            part = F.when(part >= k_total, down).otherwise(part)
        elif repartition > 0:
            u0 = hash_uniform("id", F.lit("up"), F.lit(seed))
            new = (F.lit(k) + F.pmod(F.xxhash64("id", F.lit("new"), F.lit(seed)), F.lit(repartition))).cast("int")
            part = F.when(u0 < F.lit(repartition / k_total), new).otherwise(part)
        state = vertices.select(*vcols, part.alias("part")).localCheckpoint(eager=True)

        # loads in edge counts (persistent LOAD aggregators, :352-366);
        # computed once here, then carried forward from each round's fused
        # migration-stats job (3 Spark jobs per round total, not 6)
        loads = {
            int(r.part): float(r.load)
            for r in state.groupBy("part").agg(F.sum("deg").alias("load")).collect()
        }
        score_window: list[float] = []
        log: list[dict] = []
        moved: DataFrame | None = None  # frontier: who migrated last round
        n_moved = total_migrations = rounds = 0
        converged = False

        # only the salted join shuffles the state into the edges
        with scatter.zero_exchange_loop(spark, not shards):
            for rnd in range(max_iterations):
                t0 = time.time()
                rounds = rnd + 1
                pf = {p: lam * _ceil3(loads.get(p, 0.0) / capacity) for p in range(k_total)}
                pf_expr = F.create_map(*[x for p in range(k_total) for x in (F.lit(p), F.lit(pf[p]))])
                # constant best-absent-label candidate: max over l of λ − PF(l)
                l_star = min(range(k_total), key=lambda p: (pf[p], p))
                h_star = lam - pf[l_star]

                # --- ComputeNewPartition (:292-313) ------------------------
                if sc is None:
                    hist = _block_map(spark, layout, num_partitions, k_tasks, state.select("id", "part"), n,
                                      [("part", "int64")], _block_part_hist, "id long, cand int, w double",
                                      bcasts)
                else:
                    hist = (
                        sc.join(state, F.col("part").alias("spart"))
                        .groupBy(F.col("dst").alias("id"), F.col("spart").alias("cand"))
                        .agg(F.sum("w").alias("w"))
                    )
                hist = hist.persist(StorageLevel.MEMORY_AND_DISK)

                # normalize by the vertex's total label weight Σw (:264-268);
                # carry w so the local-edge counter (:186-204) folds into
                # the fused per-round stats job below
                scored = (
                    hist.join(state.select("id", "wdeg", "part"), "id")
                    .select(
                        "id", "cand", "part", "w",
                        (F.lit(lam) + F.col("w") / F.col("wdeg") - pf_expr[F.col("cand")]).alias("h"),
                    )
                )
                star = state.select(
                    "id", F.lit(l_star).alias("cand"), "part", F.lit(0.0).alias("w"), F.lit(h_star).alias("h")
                )
                allc = scored.unionByName(star)
                # H and freq-weight at the current partition (currentState
                # aggregator :284 + locals counter)
                cur_stats = (
                    allc.filter(F.col("cand") == F.col("part"))
                    .groupBy("id")
                    .agg(F.max("h").alias("h_cur"), F.max("w").alias("w_cur"))
                )
                best = (
                    allc.groupBy("id")
                    .agg(F.max(F.struct(F.col("h"), (-F.col("cand")).alias("neg"))).alias("m"))
                    .select("id", (-F.col("m.neg")).cast("int").alias("best_cand"), F.col("m.h").alias("h_best"))
                )
                decided = (
                    state.join(best, "id", "left")
                    .join(cur_stats, "id", "left")
                    .select(
                        *vcols, "part",
                        F.coalesce("w_cur", F.lit(0.0)).alias("w_cur"),
                        F.coalesce(
                            "h_cur",
                            F.lit(lam) - pf_expr[F.col("part")],  # freq 0 at current
                        ).alias("h_now"),
                        # prefer current on ties (chooseMinLabelPartition :226-240)
                        F.when(
                            F.col("h_best") > F.coalesce("h_cur", F.lit(lam) - pf_expr[F.col("part")]),
                            F.col("best_cand"),
                        ).otherwise(F.col("part")).alias("want"),
                    )
                )
                # isActive gating (:295-313): only vertices with a migrated
                # neighbor request migration (round 0: everyone, Initializer
                # messages all edges :425-466)
                if moved is not None:
                    if sc is None:
                        active = _block_map(spark, layout, num_partitions, k_tasks, moved, n_moved, [],
                                            _block_active_dsts, "id long", bcasts)
                    else:
                        active = sc.join(moved).select(F.col("dst").alias("id")).distinct()
                    decided = decided.join(active.withColumn("act", F.lit(True)), "id", "left").select(
                        *vcols, "part", "w_cur", "h_now",
                        F.when(F.col("act").isNotNull(), F.col("want")).otherwise(F.col("part")).alias("want"),
                    )
                decided = decided.persist(StorageLevel.MEMORY_AND_DISK)

                # fused stats: score (Σ h_now), local edges (Σ w_cur) and
                # per-target demand (Σ deg of movers) in ONE job — grouped
                # by the migration target, null group = stayers
                stats_rows = (
                    decided.groupBy(
                        F.when(F.col("want") != F.col("part"), F.col("want")).alias("tgt")
                    )
                    .agg(
                        F.sum("h_now").alias("sh"),
                        F.sum("w_cur").alias("sw"),
                        F.sum("deg").alias("sd"),
                    )
                    .collect()
                )
                score = float(sum((r.sh or 0.0) for r in stats_rows))
                local_edges = float(sum((r.sw or 0.0) for r in stats_rows))
                demand = {int(r.tgt): float(r.sd) for r in stats_rows if r.tgt is not None}

                # --- convergence check BEFORE migrating (:700-736) ---------
                if len(score_window) >= window and rnd > window:
                    best_prev = max(score_window[-window:])
                    if best_prev != 0 and abs(1.0 - score / best_prev) < threshold:
                        converged = True
                score_window.append(score)
                if converged:
                    hist.unpersist()
                    state = decided.select(*vcols, "part").localCheckpoint(eager=True)
                    decided.unpersist()
                    log.append({
                        "superstep": rnd, "score": score, "migrations": 0,
                        "local_edges_pct": 100.0 * local_edges / max(total_edges, 1),
                        "loads": loads, "_halted": True,
                        "superstep_sec": time.time() - t0,
                    })
                    break

                # --- ComputeMigration (:343-418) ---------------------------
                probs = {}
                for p in range(k_total):
                    remaining = capacity - loads.get(p, 0.0)
                    d = demand.get(p, 0.0)
                    probs[p] = 0.0 if (d == 0 or remaining <= 0) else remaining / d
                prob_expr = F.create_map(*[x for p in range(k_total) for x in (F.lit(p), F.lit(probs[p]))])
                u = hash_uniform("id", F.lit(rnd), F.lit(seed))
                migrated = decided.select(
                    *vcols,
                    F.when(
                        (F.col("want") != F.col("part")) & (u < prob_expr[F.col("want")]),
                        F.col("want"),
                    ).otherwise(F.col("part")).alias("part"),
                    F.col("part").alias("old_part"),
                ).localCheckpoint(eager=True)
                # fused migration stats: next round's loads AND the migration
                # counter from one scan of the (cached) migrated state
                mig_rows = (
                    migrated.groupBy("part")
                    .agg(
                        F.sum("deg").alias("load"),
                        F.sum(F.when(F.col("part") != F.col("old_part"), 1).otherwise(0)).alias("mig"),
                    )
                    .collect()
                )
                next_loads = {int(r.part): float(r.load) for r in mig_rows}
                n_moved = int(sum(r.mig for r in mig_rows))
                total_migrations += n_moved
                moved = migrated.filter(F.col("part") != F.col("old_part")).select("id", *shards)

                hist.unpersist()
                decided.unpersist()
                release()
                state = migrated.select(*vcols, "part")

                load_vals = [loads.get(p, 0.0) for p in range(k_total)]
                expected = total_edges / k_total
                log.append({
                    "superstep": rnd,
                    "score": score,
                    "migrations": n_moved,
                    "total_migrations": total_migrations,
                    "local_edges_pct": 100.0 * local_edges / max(total_edges, 1),
                    "maxmin_unbalance": (max(load_vals) / min(load_vals)) if min(load_vals) > 0 else float("inf"),
                    "max_norm_load": max(load_vals) / expected if expected else 0.0,
                    "loads": loads,  # this round's pre-migration loads
                    "_halted": False,
                    "superstep_sec": time.time() - t0,
                })
                loads = next_loads
    finally:
        # the state is localCheckpointed every round, so the symmetrized
        # graph (its layouts and staged blocks) can go
        g.unpersist()
        release()
    return BSPResult(state.select("id", "part"), rounds, converged, log, plan=plan)


def _ceil3(x: float) -> float:
    """ceil at 3 decimals (Spinner's computeW, :148-152)."""
    return math.ceil(x * 1000.0) / 1000.0
