"""Jaccard / Adamic-Adar / clustering coefficient vs reference goldens
(JaccardTest.java:78-94 values; FIXTURES.md §3.3) and python oracles;
those three and semimetric edges vs a brute-force oracle on the
degenerate csr inputs, and their one shared triangle enumeration."""

from __future__ import annotations

import math

import pytest

from okapi_spark.graph.graph import Graph
from okapi_spark.operators import triangles
from okapi_spark.operators.semimetric import semimetric_edges
from okapi_spark.operators.similarity import (
    adamic_adar,
    clustering_coefficient,
    global_clustering_coefficient,
    jaccard,
)
from tests.conftest import FIVE_VERTEX, SIX_VERTEX_SEMIMETRIC, toy_edges
from tests.test_csr_fixpoint import INPUTS

# JaccardTest.java:34-53 graph (undirected pairs)
JACCARD_GRAPH = [
    (1, 2, 0.0), (1, 3, 0.0), (1, 4, 0.0), (2, 4, 0.0),
    (2, 5, 0.0), (3, 4, 0.0), (4, 5, 0.0), (5, 6, 0.0),
]

# goldens from JaccardTest.java:78-94
JACCARD_GOLD = {
    (1, 2): 0.2, (1, 3): 0.25, (1, 4): 0.4, (2, 4): 0.4,
    (2, 5): 0.2, (3, 4): 0.2, (4, 5): 0.1666, (5, 6): 0.0,
}


def test_jaccard_reference_goldens(spark):
    g = Graph.from_edges(toy_edges(spark, JACCARD_GRAPH))
    got = {(r.u, r.v): r.sim for r in jaccard(g).collect()}
    assert set(got) == set(JACCARD_GOLD)
    for k, v in JACCARD_GOLD.items():
        assert got[k] == pytest.approx(v, abs=1e-4), k


def test_jaccard_distance_transform(spark):
    g = Graph.from_edges(toy_edges(spark, JACCARD_GRAPH))
    got = {(r.u, r.v): r.sim for r in jaccard(g, distance=True).collect()}
    assert got[(1, 2)] == pytest.approx(1 / 0.2 - 1, abs=1e-4)
    assert got[(5, 6)] is None  # ∞ in the reference (sim 0)


def _adj_sets(edges):
    adj = {}
    for s, d, _ in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return adj


def test_adamic_adar_oracle(spark):
    g = Graph.from_edges(toy_edges(spark, JACCARD_GRAPH))
    adj = _adj_sets(JACCARD_GRAPH)
    got = {(r.u, r.v): r.aa for r in adamic_adar(g).collect()}
    for (u, v), aa in got.items():
        want = sum(math.log(1 / len(adj[c])) for c in adj[u] & adj[v])
        assert aa == pytest.approx(want, abs=1e-9), (u, v)


def test_clustering_coefficient(spark):
    """FIVE_VERTEX: triangles {1,2,3},{3,4,5}; degrees 2,2,4,2,2."""
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    got = {r.id: r.coeff for r in clustering_coefficient(g).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(2 * 2 / (4 * 3))
    assert got[4] == pytest.approx(1.0)
    assert got[5] == pytest.approx(1.0)
    # ClusteringCoefficientTest.java:68: output has 5 rows
    assert len(got) == 5
    want_avg = sum(got.values()) / 5
    assert global_clustering_coefficient(g) == pytest.approx(want_avg)


def _simple_graph(edges):
    """(adjacency sets, {(u, v): w} with u < v) of the simple undirected
    graph behind (src, dst, weight) rows: self-loops dropped, duplicate
    and reversed rows merged, the largest weight kept."""
    adj, w = {}, {}
    for s, d, x in edges:
        if s == d:
            continue
        k = (min(s, d), max(s, d))
        w[k] = max(w.get(k, x), x)
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return adj, w


@pytest.mark.parametrize("inp", list(INPUTS))
def test_triangle_operators_match_brute_force(spark, inp):
    """Jaccard, Adamic-Adar, clustering coefficient and semimetric edges
    on every degenerate csr input (empty, self-loop, duplicate edges,
    hub, ...) against a brute-force scan of the simple graph."""
    edges, symmetric = INPUTS[inp]
    df = toy_edges(spark, edges) if symmetric else spark.createDataFrame(edges, "src long, dst long, weight double")
    g = Graph.from_edges(df)
    adj, w = _simple_graph(edges)
    common = {(u, v): adj[u] & adj[v] for u, v in w}

    got = {(r.u, r.v): r.sim for r in jaccard(g).collect()}
    assert set(got) == set(w)
    for (u, v), cs in common.items():
        assert got[(u, v)] == pytest.approx(len(cs) / (len(adj[u]) + len(adj[v]) - len(cs)), abs=1e-12)

    got = {(r.u, r.v): r.aa for r in adamic_adar(g).collect()}
    assert set(got) == set(w)
    for pair, cs in common.items():
        assert got[pair] == pytest.approx(sum(math.log(1 / len(adj[c])) for c in cs), abs=1e-12)

    got = {r.id: r.coeff for r in clustering_coefficient(g).collect()}
    assert set(got) == set(adj)
    for x, nbrs in adj.items():
        k = len(nbrs)
        closed = sum(1 for a in nbrs for b in nbrs if a < b and b in adj[a])
        assert got[x] == pytest.approx(2 * closed / (k * (k - 1)) if k > 1 else 0.0, abs=1e-12)

    def wt(a, b):
        return w[(min(a, b), max(a, b))]

    want = {
        (u, v, w[(u, v)]) for (u, v), cs in common.items() for c in cs if w[(u, v)] > wt(u, c) + wt(v, c)
    }
    assert {tuple(r) for r in semimetric_edges(g).collect()} == want
    g.unpersist()


def test_triangle_operators_share_one_oriented_set(spark, monkeypatch):
    """Jaccard, Adamic-Adar, clustering coefficient, semimetric edges and
    ``triangles_df`` on one Graph build the degree-oriented edge set
    once — the first of them builds it — and ``Graph.unpersist()``
    releases it."""
    built = []
    real = triangles._oriented
    monkeypatch.setattr(triangles, "_oriented", lambda g, *a, **kw: built.append(g) or real(g, *a, **kw))
    g = Graph.from_edges(toy_edges(spark, SIX_VERTEX_SEMIMETRIC))
    jaccard(g).collect()
    assert len(built) == 1
    adamic_adar(g).collect()
    clustering_coefficient(g).collect()
    semimetric_edges(g).collect()
    triangles.triangles_df(g).collect()
    assert len(built) == 1
    g.unpersist()
    assert ("tri_oriented",) not in g._derived
