"""Triangle counting vs adjacency-set oracle — exact (north rule)."""

from __future__ import annotations

import numpy as np
import pytest

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.triangles import (
    triangle_count,
    triangle_count_per_vertex,
    triangles_df,
)
from tests.conftest import FIVE_VERTEX, toy_edges
from tests.oracles import triangle_oracle


def test_triangles_toy(spark):
    """FIXTURES.md §3.1: triangles {1,2,3} and {3,4,5} → count 2."""
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    assert triangle_count(g) == 2
    tri = sorted(tuple(r) for r in triangles_df(g).collect())
    assert tri == [(1, 2, 3), (3, 4, 5)]
    per_v = {r.id: r.triangles for r in triangle_count_per_vertex(g).collect()}
    assert per_v == {3: 1, 5: 1}  # placed at max-id vertex (Triangles.java:131-151)


@pytest.mark.parametrize("chunks", [1, 4])
def test_triangles_random(spark, chunks):
    rng = np.random.default_rng(5)
    n = 60
    edges = []
    for i in range(1, n + 1):
        for j in range(i + 1, n + 1):
            if rng.random() < 0.15:
                edges.append((i, j, 1.0))
    g = Graph.from_edges(toy_edges(spark, edges))
    want_total, want_per_max = triangle_oracle([(s, d) for s, d, _ in edges])
    assert triangle_count(g, chunks=chunks) == want_total
    got = {r.id: r.triangles for r in triangle_count_per_vertex(g, chunks=chunks).collect()}
    assert got == want_per_max


def test_triangles_directed_input_counts_undirected(spark):
    """A one-directional edge listing still yields the undirected count."""
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges)
    assert triangle_count(g) == 1


def test_symmetric_distinct_fast_path_matches(spark):
    """The symmetric_distinct canonicalization fast path (src<dst
    filter) must agree with the general least/greatest+distinct path
    on the same symmetrized graph — triangles, jaccard, semimetric."""
    from okapi_spark.operators.semimetric import semimetric_edges
    from okapi_spark.operators.similarity import jaccard

    rng = np.random.default_rng(11)
    edges = []
    for i in range(1, 41):
        for j in range(i + 1, 41):
            if rng.random() < 0.2:
                w = float(rng.integers(1, 6))
                edges.append((i, j, w))
                edges.append((j, i, w))
    df = toy_edges(spark, edges)
    g_fast = Graph.from_edges(df, symmetric_distinct=True)
    g_slow = Graph.from_edges(df, symmetric_distinct=False)
    assert g_fast.symmetric_distinct and not g_slow.symmetric_distinct

    assert triangle_count(g_fast) == triangle_count(g_slow)
    tf = sorted(tuple(r) for r in triangles_df(g_fast).collect())
    ts = sorted(tuple(r) for r in triangles_df(g_slow).collect())
    assert tf == ts

    jf = sorted(tuple(r) for r in jaccard(g_fast).collect())
    js = sorted(tuple(r) for r in jaccard(g_slow).collect())
    assert jf == js

    sf = sorted(tuple(r) for r in semimetric_edges(g_fast).collect())
    ss = sorted(tuple(r) for r in semimetric_edges(g_slow).collect())
    assert sf == ss


def test_triangle_count_csr_matches_sql(spark, monkeypatch):
    """mode='csr' (resident staged blocks, zero wedge exchange) must
    count exactly what the sql wedge-join plan counts — toy fixture,
    oracle graph, and both canonicalization paths; invariant to the
    block-partition count (8 vs 32) and to hub pivots crossing the
    _PAIR_BUCKET_CAP tail-slice path."""
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    assert triangle_count(g, mode="csr") == 2

    rng = np.random.default_rng(7)
    n = 80
    edges = []
    for i in range(1, n + 1):
        for j in range(i + 1, n + 1):
            if rng.random() < 0.12:
                edges.append((i, j, 1.0))
    g = Graph.from_edges(toy_edges(spark, edges))
    want_total, _ = triangle_oracle([(s, d) for s, d, _ in edges])
    assert triangle_count(g, mode="csr") == want_total  # local placement
    from okapi_spark.plans import csr_fixpoint as fx

    with monkeypatch.context() as mp:  # staged placement
        mp.setattr(fx, "_FUSE_MAX_EDGES", 0)
        assert triangle_count(g, mode="csr", num_partitions=8) == want_total
        assert triangle_count(g, mode="csr", num_partitions=32) == want_total

    # hub star + clique: pivot out-degree above a forced tiny bucket
    # cap exercises the per-(segment, i) tail-slice path
    from okapi_spark.operators import triangles as T

    hub_edges = [(1, j, 1.0) for j in range(2, 40)] + [
        (i, j, 1.0) for i in range(2, 10) for j in range(i + 1, 10)
    ]
    gh = Graph.from_edges(toy_edges(spark, hub_edges))
    want = triangle_count(gh)
    old = T._PAIR_BUCKET_CAP
    T._PAIR_BUCKET_CAP = 3
    try:
        assert triangle_count(gh, mode="csr") == want
    finally:
        T._PAIR_BUCKET_CAP = old


def test_triangle_count_csr_hashed_ids_densify(spark, monkeypatch):
    """Hashed / negative / sparse ids (the induce_edges xxhash64
    domain) need no special path — the rank relabel makes ids dense
    [0, |V|) by construction — and still count exactly; when |V|
    exceeds the rank-broadcast budget the mode refuses with the
    documented use-sql message instead of degrading silently."""
    import pyspark.sql.functions as F

    rng = np.random.default_rng(3)
    base = []
    for i in range(1, 50):
        for j in range(i + 1, 50):
            if rng.random() < 0.2:
                base.append((i, j))
    want_total, _ = triangle_oracle(base)
    # scatter ids across the full signed-64 range (xxhash64 of the id)
    df = spark.createDataFrame(base, "a long, b long").select(
        F.xxhash64("a").alias("src"), F.xxhash64("b").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    g = Graph.from_edges(df)
    assert triangle_count(g, mode="csr") == want_total
    assert triangle_count(g) == want_total  # sql agrees on hashed ids too

    # force the remap broadcast gate shut: must refuse, not overflow.
    # Fresh Graph: the staged layout is memoized per Graph (round 6),
    # and an already-staged layout legitimately needs no new broadcast
    # — the gate guards the STAGING pass.
    g2 = Graph.from_edges(df)
    from okapi_spark.plans import broadcast as B
    from okapi_spark.plans import csr_fixpoint as fx

    # the broadcast only exists in the staged placement (fuse window 0);
    # inside the window the driver relabels its own gathered copy
    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)
    monkeypatch.setattr(B, "STATE_BROADCAST_BUDGET_BYTES", 0)
    with pytest.raises(ValueError, match="mode='sql'"):
        triangle_count(g2, mode="csr")


def test_triangle_csr_staged_layout_memoized(spark, monkeypatch):
    """Round-6: the staged pivot/membership layout is memoized per
    Graph — a second count reuses it (deg/stage phases report 0.0) and
    Graph.unpersist() removes the block files (staged placement: fuse
    window patched to 0)."""
    import os

    from okapi_spark.operators.triangles import _triangle_count_csr
    from okapi_spark.plans import csr_fixpoint as fx

    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)

    rng = np.random.default_rng(11)
    edges = []
    for i in range(1, 60):
        for j in range(i + 1, 60):
            if rng.random() < 0.15:
                edges.append((i, j, 1.0))
    g = Graph.from_edges(toy_edges(spark, edges))
    n1, ph1 = _triangle_count_csr(g)
    assert ph1["stage_sec"] > 0.0
    n2, ph2 = _triangle_count_csr(g)
    assert n2 == n1
    assert ph2["deg_sec"] == 0.0 and ph2["stage_sec"] == 0.0  # reused
    P = spark.sparkContext.defaultParallelism
    bdir = g._derived[("tri_blocks", P)][0]
    assert os.path.isdir(bdir)
    g.unpersist()
    assert not os.path.exists(bdir)  # cleanup reclaimed the files
