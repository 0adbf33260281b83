"""Checkpoint/resume: kill at superstep k → resume → identical fixpoint
(north rule resumability; SURVEY.md §5 invariant tests)."""

from __future__ import annotations

import pytest

from okapi_spark.bsp import CheckpointStore
from okapi_spark.graph.graph import Graph
from okapi_spark.operators.components import connected_components
from okapi_spark.operators.pagerank import pagerank
from tests.conftest import FIVE_VERTEX, toy_edges


def test_pagerank_kill_and_resume(spark, tmp_path):
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    # uninterrupted run = golden, on the sql plan the checkpointed
    # calls resolve to
    golden = pagerank(g, tol=1e-8, mode="sql")
    want = {r.id: r.rank for r in golden.state.collect()}

    store = CheckpointStore(str(tmp_path / "ckpt"))
    # "crash" after 3 supersteps (max_supersteps caps the loop mid-flight)
    partial = pagerank(g, tol=1e-8, store=store, max_supersteps=3)
    assert not partial.converged
    assert store.latest()["superstep"] == 2

    # resume from the same store → runs remaining supersteps only
    resumed = pagerank(g, tol=1e-8, store=store, max_supersteps=100)
    assert resumed.converged
    got = {r.id: r.rank for r in resumed.state.collect()}
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # lineage ledger is continuous: supersteps 0..k each logged once
    ss = [e["superstep"] for e in store.lineage()]
    assert ss == sorted(ss) and len(set(ss)) == len(ss)


def test_cc_resume_after_convergence_is_noop(spark, tmp_path):
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    store = CheckpointStore(str(tmp_path / "cc"))
    first = connected_components(g, store=store)
    assert first.converged
    n_lineage = len(store.lineage())
    again = connected_components(g, store=store)
    assert again.converged
    # no extra supersteps were executed on resume of a finished run
    assert len(store.lineage()) == n_lineage
    assert {r.id: r.comp for r in again.state.collect()} == {
        r.id: r.comp for r in first.state.collect()
    }


def test_kcore_kill_and_resume(spark, tmp_path):
    """Mutation-op resumability (SURVEY §7 hard part): kill the k-core
    edge-rebuild loop mid-decomposition, resume from the store, reach
    the identical core as the uninterrupted run."""
    import numpy as np

    from okapi_spark.operators.kcore import kcore

    rng = np.random.default_rng(17)
    edges = []
    # a 3-core clique plus peel-away chains (several peel rounds)
    for a in range(1, 8):
        for b in range(a + 1, 8):
            edges.append((a, b, 1.0))
    tip = 7
    for _ in range(12):
        edges.append((tip, tip + 1, 1.0))
        tip += 1
    for s, d, w in list(edges):
        edges.append((d, s, w))
    g = Graph.from_edges(toy_edges(spark, edges))

    golden = kcore(g, k=4)
    want = sorted(r.id for r in golden.vertices().collect())
    assert want  # the clique survives

    store = CheckpointStore(str(tmp_path / "kcore"))
    partial = kcore(g, k=4, max_rounds=1, store=store)  # "crash" after round 0
    assert store.latest()["superstep"] == 0
    resumed = kcore(g, k=4, store=store)
    got = sorted(r.id for r in resumed.vertices().collect())
    assert got == want
    ss = [e["superstep"] for e in store.lineage()]
    assert ss == sorted(ss) and len(set(ss)) == len(ss)


def test_salted_pagerank_resume_across_parallelism(spark, tmp_path):
    """ADVICE round-2 (medium): the salted shuffle fallback carries a
    per-vertex shard count (nsalt) in the checkpointed state, but
    nsalt is derived from the CURRENT run's parallelism — resuming a
    crashed run at different parallelism rebuilds the salted edge
    layout with larger hub shard counts, and edges with salt >= the
    restored state's nsalt would silently drop their rank mass. The
    restore hook must re-derive nsalt each run.

    Fixture: a 9k-out-edge hub so nsalt(hub) is 4 at num_partitions=1
    but 9 at num_partitions=8 (target/cap arithmetic in pagerank.py).
    """
    from pyspark.sql import functions as F

    hub = spark.range(1, 9001).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"), F.lit(1.0).alias("weight")
    )
    chain = spark.range(1, 101).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), F.lit(1.0).alias("weight")
    )
    g = Graph.from_edges(hub.unionByName(chain))

    golden = pagerank(g, iterations=5, state_broadcast=False, num_partitions=8)
    want = {r.id: r.rank for r in golden.state.collect()}

    store = CheckpointStore(str(tmp_path / "salted"))
    pagerank(g, iterations=2, state_broadcast=False, num_partitions=1, store=store)
    assert store.latest()["superstep"] == 1
    resumed = pagerank(g, iterations=5, state_broadcast=False, num_partitions=8, store=store)
    got = {r.id: r.rank for r in resumed.state.collect()}
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-12), f"vertex {v}"
