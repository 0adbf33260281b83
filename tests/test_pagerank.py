"""PageRank vs dense power-iteration oracle (allclose 1e-6, north rule)."""

from __future__ import annotations

import numpy as np
import pytest

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.pagerank import pagerank
from tests.conftest import FIVE_VERTEX, toy_edges
from tests.oracles import pagerank_oracle


def _er_graph(n=120, p=0.05, seed=3):
    rng = np.random.default_rng(seed)
    edges = []
    for i in range(n):
        for j in range(n):
            if i != j and rng.random() < p:
                edges.append((i + 1, j + 1, 1.0))
    # ensure every vertex has at least one out-edge (reference inputs do)
    present = {e[0] for e in edges}
    for i in range(1, n + 1):
        if i not in present:
            edges.append((i, (i % n) + 1, 1.0))
    return edges


@pytest.mark.parametrize("mode", ["sql", "csr"])
def test_pagerank_toy(spark, mode):
    edges = toy_edges(spark, FIVE_VERTEX)
    g = Graph.from_edges(edges)
    res = pagerank(g, tol=1e-6, max_supersteps=100, mode=mode)
    assert res.converged
    got = {r.id: r.rank for r in res.state.collect()}
    want = pagerank_oracle([(s, d) for s, d, _ in FIVE_VERTEX] + [(d, s) for s, d, _ in FIVE_VERTEX])
    for v, r in want.items():
        assert abs(got[v] - r) < 1e-6


@pytest.mark.parametrize("mode", ["sql", "csr"])
def test_pagerank_erdos_renyi(spark, mode):
    edges = _er_graph()
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long, weight double"))
    res = pagerank(g, tol=1e-7, max_supersteps=200, mode=mode)
    assert res.converged
    got = {r.id: r.rank for r in res.state.collect()}
    want = pagerank_oracle([(s, d) for s, d, _ in edges], tol=1e-7)
    assert len(got) == len(want)
    for v, r in want.items():
        assert abs(got[v] - r) < 1e-6, f"vertex {v}"


def test_pagerank_partitioning_invariance(spark):
    """Same fixpoint at different shuffle widths (SURVEY.md §5), on
    both physical plans."""
    edges = toy_edges(spark, FIVE_VERTEX)
    g = Graph.from_edges(edges)
    for mode in ("sql", "csr"):
        r4 = pagerank(g, tol=1e-8, num_partitions=4, mode=mode)
        r8 = pagerank(g, tol=1e-8, num_partitions=8, mode=mode)
        a = {r.id: r.rank for r in r4.state.collect()}
        b = {r.id: r.rank for r in r8.state.collect()}
        for v in a:
            assert abs(a[v] - b[v]) < 1e-9, (mode, v)


def test_pagerank_salted_shuffle_branch_matches_oracle(spark):
    """The cluster-scale salted shuffle fallback (state_broadcast=False,
    degree-proportional (src, salt) layout + exploded state) must reach
    the same fixpoint as the NumPy oracle and the broadcast plan."""
    edges = _er_graph()
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long, weight double"))
    res = pagerank(g, tol=1e-7, max_supersteps=200, mode="sql", state_broadcast=False)
    assert res.converged
    got = {r.id: r.rank for r in res.state.collect()}
    want = pagerank_oracle([(s, d) for s, d, _ in edges], tol=1e-7)
    for v, r in want.items():
        assert abs(got[v] - r) < 1e-6, f"vertex {v}"
    bres = pagerank(g, iterations=7, state_broadcast=True)
    sres = pagerank(g, iterations=7, state_broadcast=False)
    b = {r.id: r.rank for r in bres.state.collect()}
    s = {r.id: r.rank for r in sres.state.collect()}
    assert max(abs(b[v] - s[v]) for v in b) < 1e-12


def test_gather_state_arrays_paths_identical(spark):
    """The executor-side binary pack (scale path) and the direct Arrow
    collect (small-state path) must assemble identical sorted arrays —
    the csr broadcast is built from whichever the size gate picks."""
    from pyspark.sql import functions as F

    from okapi_spark.plans.csr_fixpoint import gather_sorted_arrays

    df = (
        spark.range(0, 5000)
        .select(F.col("id"), (F.col("id") * 0.001).alias("rank"))
        .repartition(8)
    )
    small = gather_sorted_arrays(df, 5000, [("rank", "float64")])  # direct collect
    packed = gather_sorted_arrays(df, None, [("rank", "float64")])  # mapInArrow pack
    assert (small[0] == packed[0]).all()
    assert (small[1][0] == packed[1][0]).all()


def test_pagerank_l1_tolerance(spark):
    """tol_norm="l1": scale-free criterion (Σ|Δ| over ranks that sum
    to 1). Tighter than the same absolute max-delta at fixed |V|, and
    both norms land in metrics_log regardless of which one halts — on
    both physical plans (each has its own halt predicate)."""
    edges = toy_edges(spark, FIVE_VERTEX)
    g = Graph.from_edges(edges)
    want = pagerank_oracle([(s, d) for s, d, _ in FIVE_VERTEX] + [(d, s) for s, d, _ in FIVE_VERTEX])
    for mode in ("sql", "csr"):
        res = pagerank(g, tol=1e-6, tol_norm="l1", max_supersteps=100, mode=mode)
        assert res.converged, mode
        m = res.metrics_log[-1]
        assert m["l1_delta"] < 1e-6 and "max_delta" in m, mode
        # L1 < tol implies max < tol: the fixpoint matches the oracle
        got = {r.id: r.rank for r in res.state.collect()}
        for v, r in want.items():
            assert abs(got[v] - r) < 1e-6, (mode, v)
        # L1 is the stricter norm: it needs at least as many supersteps
        # as the max-delta run at the same tol on the same graph
        res_max = pagerank(g, tol=1e-6, tol_norm="max", max_supersteps=100, mode=mode)
        assert res.supersteps >= res_max.supersteps, mode
    with pytest.raises(ValueError):
        pagerank(g, tol_norm="l2")


@pytest.mark.parametrize("mode", ["sql", "csr"])
def test_pagerank_weighted_matches_oracle(spark, mode):
    """weighted=True: rank flows as w/Σw per edge. The share table is
    built BEFORE mode dispatch, so sql and csr must agree with the
    dense weighted oracle — guards the csr staging path against ever
    dropping the weight column."""
    edges = [
        (1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0),
        (3, 4, 5.0), (4, 1, 0.5), (4, 2, 0.5), (2, 4, 1.0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    g = Graph.from_edges(df)
    res = pagerank(g, tol=1e-9, max_supersteps=200, weighted=True, mode=mode)
    assert res.converged
    got = {r.id: r.rank for r in res.state.collect()}
    want = pagerank_oracle(
        [(s, d) for s, d, _ in edges], tol=1e-9,
        weights=[w for _, _, w in edges], weighted=True,
    )
    for v, r in want.items():
        assert abs(got[v] - r) < 1e-6, f"vertex {v}"
    # and differs from the unweighted fixpoint (the weights matter)
    unw = pagerank_oracle([(s, d) for s, d, _ in edges], tol=1e-9)
    assert any(abs(want[v] - unw[v]) > 1e-4 for v in want)
