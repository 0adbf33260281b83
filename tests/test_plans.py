"""Structural plan assertions — the performance contract as tests."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from okapi_spark.graph.graph import Graph
from okapi_spark.plans.inspect import count_broadcast_joins, count_exchanges
from okapi_spark.sources.synth_graph import generate_edges


def _pr_scatter(g: Graph, broadcast: bool):
    """PageRank's sql scatter plan over 8 partitions, as the operator
    builds it (plans/scatter.py over the (src, dst, share) frame)."""
    from okapi_spark.operators.pagerank import _shares
    from okapi_spark.plans import scatter

    return scatter.plan(g, "pr", lambda: _shares(g, False), 8, broadcast)


def _pr_messages(sc, state):
    return (
        sc.join(state, "rank")
        .select("dst", (F.col("rank") * F.col("share")).alias("m"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("m").alias("msum"))
    )


def test_superstep_message_plan_zero_exchange(spark):
    """In broadcast-state mode the per-superstep message aggregation
    must contain zero shuffle exchanges: edges cached by dst +
    broadcast state makes groupBy(dst) partition-complete."""
    e = generate_edges(spark, 50_000, 2_000)
    g = Graph.from_edges(e)
    sc = _pr_scatter(g, broadcast=True)  # builds + materializes the dst layout
    state = g.vertices().select("id", F.lit(0.1).alias("rank"))
    msgs = _pr_messages(sc, state)
    assert count_exchanges(msgs) == 0, "superstep plan must not shuffle"
    assert count_broadcast_joins(msgs) == 1
    g.unpersist()


def test_pagerank_sql_superstep_state_plan_zero_exchange(spark, monkeypatch):
    """PageRank's broadcast-mode sql layout and vertex dictionary are as
    wide as the shuffle partitioning of its ``state ⟕ msgs`` update join,
    so no superstep re-shuffles the |V|-row message side (or the state
    side): every superstep's state plan, as the operator builds it, has
    zero shuffle exchanges."""
    from okapi_spark.operators.pagerank import pagerank
    from okapi_spark.plans import scatter

    exchanges = []
    run = scatter.run_supersteps

    def spy(state0, superstep, **kw):
        def step(ss, state):
            new_state, post = superstep(ss, state)
            exchanges.append(count_exchanges(new_state))
            return new_state, post

        return run(state0, step, **kw)

    monkeypatch.setattr(scatter, "run_supersteps", spy)
    g = Graph.from_edges(generate_edges(spark, 20_000, 1_000))
    try:
        pagerank(g, mode="sql", state_broadcast=True, iterations=2)
    finally:
        g.unpersist()
    assert exchanges == [0, 0]


def test_fallback_superstep_plan_shape(spark):
    """The cluster-scale fallback (state_broadcast=False): edges stay
    in their cached salted (src, salt) layout, the exploded state
    shuffles into the (src, salt) join (no broadcast of |V|-row state
    anywhere), and groupBy(dst) shuffles the (combined) messages —
    bounded shuffles, bounded memory."""
    e = generate_edges(spark, 50_000, 2_000)
    g = Graph.from_edges(e)
    sc = _pr_scatter(g, broadcast=False)
    # a superstep reads the previous round's materialized state
    state = sc.with_shards(g.vertices().select("id", F.lit(0.1).alias("rank"))).localCheckpoint()
    msgs = _pr_messages(sc, state)
    assert count_broadcast_joins(msgs) == 0, "fallback must not broadcast |V|-row state"
    assert 1 <= count_exchanges(msgs) <= 3
    g.unpersist()


def test_cc_adaptive_frontier_broadcast_plan(spark):
    """CC's shuffle mode flips the shrunk frontier to a broadcast join:
    the late-superstep message plan with a broadcast frontier over the
    salted edge layout has exactly one shuffle (the message combine)
    and one broadcast join."""
    from okapi_spark.operators.components import _hashmin_fixpoint
    from okapi_spark.plans import scatter

    e = generate_edges(spark, 50_000, 2_000)
    g = Graph.from_edges(e)
    spec = _hashmin_fixpoint(g)
    sc = scatter.plan(g, spec.name, spec.frame, 8, False)
    frontier = g.vertices().limit(10).select("id", F.col("id").alias("comp"))
    msgs = (
        sc.join(frontier, "comp", broadcast=True)
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("comp").alias("cand"))
    )
    assert count_broadcast_joins(msgs) == 1
    assert count_exchanges(msgs) == 1
    g.unpersist()


def test_naive_plan_does_shuffle(spark):
    """Control: the same aggregation WITHOUT the dst layout shuffles —
    proving the inspection actually measures something."""
    e = generate_edges(spark, 50_000, 2_000)
    state = (
        e.select(F.col("src").alias("id")).distinct().select("id", F.lit(0.1).alias("rank"))
    )
    msgs = (
        e.join(state.withColumnRenamed("id", "src"), "src")
        .groupBy("dst")
        .agg(F.sum("rank").alias("msum"))
    )
    assert count_exchanges(msgs) >= 1


def test_symmetric_distinct_canonicalization_is_exchange_free(spark):
    """For a symmetric_distinct graph the canonical pair set must be a
    pure filter over the cached edges (zero exchanges); the general
    path pays a distinct shuffle. This is the structural guarantee
    behind the triangle/similarity fast path."""
    from okapi_spark.operators.triangles import _canonical

    e = generate_edges(spark, 20_000, 1_000)
    sym = e.select("src", "dst").filter("src < dst").distinct()
    sym = sym.unionByName(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    g_fast = Graph.from_edges(sym, symmetric_distinct=True)
    g_fast.edges.count()  # materialize the cache
    g_slow = Graph(edges=g_fast.edges, symmetric_distinct=False)

    assert count_exchanges(_canonical(g_fast)) == 0
    assert count_exchanges(_canonical(g_slow)) >= 1


def test_shuffle_mode_superstep_builds_hash_not_sort(spark):
    """The cluster-scale fallback must stream the cached edges against
    a per-partition hash of the state (ShuffledHashJoin) — a
    SortMergeJoin would re-sort the full edge set every superstep
    (measured 5x slower per superstep at 240M edges)."""
    from okapi_spark.plans.inspect import plan_node_names

    e = generate_edges(spark, 50_000, 2_000)
    g = Graph.from_edges(e)
    sc = _pr_scatter(g, broadcast=False)
    state = sc.with_shards(g.vertices().select("id", F.lit(0.1).alias("rank"))).localCheckpoint()
    names = plan_node_names(_pr_messages(sc, state))
    assert any("ShuffledHashJoin" in n for n in names), names
    assert not any("SortMergeJoin" in n for n in names), names
    g.unpersist()


def test_lpa_csr_kernel_plan_zero_exchange_zero_edge_scan(spark):
    """The csr runner's per-round LPA job must (a) add no shuffle
    exchange and (b) never rescan the edge table: after staging, a
    round is a P-row Range → mapInPandas — the edge bytes live in
    page-cached block files, not in the plan."""
    import pickle

    from okapi_spark.operators.lpa import _lpa_fixpoint
    from okapi_spark.plans import csr_fixpoint as fx

    e = generate_edges(spark, 50_000, 2_000)
    g = Graph.from_edges(e)
    spec = _lpa_fixpoint(g, weighted=False, converge=False)
    layout = fx.stage(g, spec.name, spec.frame, 8)
    ids = fx.ids_sorted(g, 8)
    sc = spark.sparkContext
    b_ids, b_state = sc.broadcast(ids), sc.broadcast(spec.init(ids))
    job = fx.round_job(spark, spec, layout, 8, 4, b_ids, b_state)
    try:
        assert count_exchanges(job) == 0, "csr superstep plan must not shuffle"
        plan = job._jdf.queryExecution().executedPlan().toString()
        assert "Range" in plan, plan
        for scan_marker in ("InMemoryTableScan", "Scan parquet", "Scan ExistingRDD"):
            assert scan_marker not in plan, f"superstep rescans edges:\n{plan}"
        # and it computes the right thing from the staged blocks: one
        # new label for every vertex with an in-edge
        parts = [p for r in job.collect() for p in pickle.loads(r.blob)]
        dsts = np.concatenate([d for d, _ in parts])
        assert len(dsts) == len(np.unique(dsts)) == e.select("dst").distinct().count()
    finally:
        b_ids.destroy()
        b_state.destroy()
        g.unpersist()


def test_triangle_orientation_broadcast_plan(spark):
    """With the degree table inside the byte budget, orientation must
    add ZERO exchanges beyond the (map-side-combined) degree groupBy:
    both degree lookups are broadcast joins against the persisted
    |V|-row table, so the edge set is never re-exchanged. The
    shuffle_hash fallback was measured at 0.31 marginal scaling
    efficiency on executor JVMs — the chassis's raw-shuffle ceiling —
    precisely because it exchanged the edge set twice (BENCH.md r5
    triangles decomposition)."""
    from okapi_spark.operators.triangles import _canonical, _oriented
    from okapi_spark.plans.inspect import plan_node_names

    e = generate_edges(spark, 20_000, 1_000)
    sym = e.select("src", "dst").filter("src < dst").distinct()
    sym = sym.unionByName(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    g = Graph.from_edges(sym, symmetric_distinct=True)
    g.edges.count()

    o, extras = _oriented(g)  # auto gate: 1k vertices -> broadcast
    names = plan_node_names(o)
    assert sum("BroadcastHashJoin" in n for n in names) == 2, names
    assert not any("ShuffledHashJoin" in n or "SortMergeJoin" in n for n in names), names
    # the two degree lookups broadcast the SAME persisted table —
    # ReuseExchange must dedupe the serial driver-side relation build
    # (one BroadcastExchange, one ReusedExchange), so the build cost
    # in the one-shot budget model is paid once
    full = o._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in full, full
    # symmetric_distinct canonical is a pure filter; the degree groupBy
    # reads the persisted (already materialized by the gate's count)
    # degree table, so the executing path carries no exchange at all
    assert count_exchanges(o) == 0, plan_node_names(o)
    for d in extras:
        d.unpersist()


def test_triangle_orientation_broadcast_equiv(spark):
    """Broadcast, shuffle_hash, and packed-array orientation paths must
    produce the identical oriented edge set (same rows, same carried
    deg) — the (deg, id) total order is shared by all three."""
    from okapi_spark.operators.triangles import _oriented

    e = generate_edges(spark, 20_000, 1_000)
    g = Graph.from_edges(e)
    o_b, ex_b = _oriented(g, deg_broadcast=True)
    o_s, ex_s = _oriented(g, deg_broadcast=False)
    o_a, ex_a = _oriented(g, deg_broadcast="array")
    rows_b = sorted(tuple(r) for r in o_b.collect())
    rows_s = sorted(tuple(r) for r in o_s.collect())
    rows_a = sorted(tuple(r) for r in o_a.collect())
    assert rows_b == rows_s == rows_a and len(rows_b) > 0
    for d in ex_b + ex_s + ex_a:
        d.unpersist()


def test_triangle_orientation_array_plan(spark):
    """The packed-array orientation (the mid-band auto mode, 64MB <
    |V|-relation ≤ 256MB array) must execute with ZERO exchanges and
    ZERO joins: the degree lookup rides a numpy sc.broadcast into
    mapInArrow, so the canonical edge scan maps straight to the
    oriented set."""
    from okapi_spark.operators.triangles import _canonical, _oriented
    from okapi_spark.plans.inspect import plan_node_names

    e = generate_edges(spark, 20_000, 1_000)
    sym = e.select("src", "dst").filter("src < dst").distinct()
    sym = sym.unionByName(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    g = Graph.from_edges(sym, symmetric_distinct=True)
    g.edges.count()

    o, extras = _oriented(g, deg_broadcast="array")
    names = plan_node_names(o)
    assert not any("Join" in n for n in names), names
    assert count_exchanges(o) == 0, names
    # end-to-end through the triangle plan: counts must match the
    # auto (broadcast-at-this-|V|) plan
    from okapi_spark.operators.triangles import triangle_count

    expected = triangle_count(g)
    e1 = o.alias("e1")
    w = e1.join(
        o.alias("e2").hint("shuffle_hash"),
        (F.col("e1.u") == F.col("e2.u"))
        & (F.struct(F.col("e1.dv"), F.col("e1.v")) < F.struct(F.col("e2.dv"), F.col("e2.v"))),
        "inner",
    ).select(F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    closing = o.select(F.col("u").alias("b"), F.col("v").alias("c")).hint("shuffle_hash")
    got = w.join(closing, ["b", "c"], "left_semi").count()
    assert got == expected > 0
    for d in extras:
        d.unpersist()


def test_salted_spinner_state_keeps_broadcast_joins(spark, monkeypatch):
    """Salted Spinner derives each vertex's ``nsalt`` from the degree its
    state already carries, not by a left join with the shard census: a
    join's size estimate is the product of its sides, and on that
    estimate round 0's inner ``hist ⋈ state`` join lost its broadcast
    and ran as a SortMergeJoin. The state keeps its own size estimate,
    and the only sort-merge joins left in round 0's persisted decision
    table are its two left joins onto the state."""
    from okapi_spark.operators.lpa import spinner_partition
    from okapi_spark.plans import scatter

    persisted = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    persist = cls.persist

    def spy(self, *a, **k):
        persisted.append(self)
        return persist(self, *a, **k)

    monkeypatch.setattr(cls, "persist", spy)
    g = Graph.from_edges(generate_edges(spark, 20_000, 2_000))
    try:
        sym = g.symmetrize()
        sc = scatter.plan(sym, "w", lambda: sym.edges.select("src", "dst", F.col("weight").alias("w")), 4, False)
        verts = sym.degree_weights().select(F.col("src").alias("id"), F.col("out_deg").alias("deg"))

        def size(df):
            return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

        assert size(sc.with_shards(verts, deg="deg")) < 2 * size(verts)  # not a product
        sym.unpersist()

        spinner_partition(g, k=4, max_iterations=1, seed=3, num_partitions=4, state_broadcast=False)
        decided = [df for df in persisted if "want" in df.columns][0]
        plan = decided._jdf.queryExecution().executedPlan().toString()
        smj = [line for line in plan.splitlines() if "SortMergeJoin" in line]
        assert all("LeftOuter" in line for line in smj), smj
    finally:
        g.unpersist()
