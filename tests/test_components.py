"""Connected components vs union-find oracle — exact (north rule)."""

from __future__ import annotations

import numpy as np

from okapi_spark.graph.graph import Graph
from okapi_spark.operators import components
from okapi_spark.operators.components import connected_components
from okapi_spark.plans import broadcast
from tests.conftest import FIVE_VERTEX, toy_edges
from tests.oracles import components_oracle


def test_cc_toy_single_component(spark):
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    res = connected_components(g)
    assert res.converged
    got = {r.id: r.comp for r in res.state.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_multi_component(spark):
    # two cliques + an isolated pair + a long chain (stresses propagation depth)
    edges = []
    for a in range(1, 5):
        for b in range(a + 1, 5):
            edges.append((a, b, 1.0))
    for a in range(10, 13):
        for b in range(a + 1, 13):
            edges.append((a, b, 1.0))
    edges.append((20, 21, 1.0))
    chain = [(30 + i, 30 + i + 1, 1.0) for i in range(40)]
    edges += chain
    g = Graph.from_edges(toy_edges(spark, edges))
    res = connected_components(g, max_supersteps=100)
    assert res.converged
    got = {r.id: r.comp for r in res.state.collect()}
    want = components_oracle([(s, d) for s, d, _ in edges] + [(d, s) for s, d, _ in edges])
    assert got == want


def test_cc_shuffle_branch_matches_broadcast(spark, monkeypatch):
    """The cluster-scale two-shuffle plan (state_broadcast=False, no
    adaptive frontier broadcast) must reach the identical fixpoint as
    the zero-exchange broadcast plan."""
    rng = np.random.default_rng(23)
    edges = [
        (int(rng.integers(1, 200)), int(rng.integers(1, 200)), 1.0) for _ in range(260)
    ]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    g = Graph.from_edges(toy_edges(spark, edges))
    res_b = connected_components(g, max_supersteps=100, state_broadcast=True)
    monkeypatch.setattr(components, "BROADCAST_FRONTIER_ROWS", 0)
    res_s = connected_components(g, max_supersteps=100, state_broadcast=False)
    assert res_b.converged and res_s.converged
    # an explicit state_broadcast asks for a sql layout
    assert res_b.plan["resolved"] == res_s.plan["resolved"] == "sql"
    got_b = {r.id: r.comp for r in res_b.state.collect()}
    got_s = {r.id: r.comp for r in res_s.state.collect()}
    assert got_b == got_s


def test_cc_random_graph(spark):
    rng = np.random.default_rng(11)
    edges = [
        (int(rng.integers(1, 300)), int(rng.integers(1, 300)), 1.0) for _ in range(350)
    ]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    g = Graph.from_edges(toy_edges(spark, edges))
    res = connected_components(g, max_supersteps=150)
    assert res.converged
    got = {r.id: r.comp for r in res.state.collect()}
    want = components_oracle([(s, d) for s, d, _ in edges] + [(d, s) for s, d, _ in edges])
    assert got == want


def test_cc_csr_matches_oracle_and_sql_plans(spark, monkeypatch):
    """mode='csr' (HashMin over resident staged CSR blocks) reaches the
    identical fixpoint as the sql plans and the union-find oracle,
    across partition counts (partitioning independence)."""
    from okapi_spark.plans import csr_blocks

    # force multi-block staging at toy scale so the partition-count
    # sweep exercises real cross-block layouts (choose_block_count
    # would otherwise collapse tiny graphs to one block)
    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 16)
    rng = np.random.default_rng(29)
    edges = [
        (int(rng.integers(1, 250)), int(rng.integers(1, 250)), 1.0) for _ in range(300)
    ]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    edges += [(900, 901, 1.0), (901, 902, 1.0)]  # separate component
    g = Graph.from_edges(toy_edges(spark, edges))
    want = components_oracle([(s, d) for s, d, _ in edges] + [(d, s) for s, d, _ in edges])
    for nparts in (4, 32):
        res = connected_components(g, mode="csr", num_partitions=nparts)
        assert res.converged
        got = {r.id: r.comp for r in res.state.collect()}
        assert got == want, f"csr p={nparts}"


def test_cc_csr_byte_gate(spark, monkeypatch):
    import pytest as _pytest

    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    monkeypatch.setattr(broadcast, "STATE_BROADCAST_BUDGET_BYTES", 32 * 2)
    with _pytest.raises(ValueError, match="broadcast budget"):
        connected_components(g, mode="csr")
