"""k-means planted clusters (TestKMeansClustering.java:39-177 analogue)
and SybilRank vs a NumPy oracle of the reference power iteration."""

from __future__ import annotations

import math

import numpy as np
import pytest

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.kmeans import kmeans
from okapi_spark.operators.sybilrank import sybilrank
from tests.conftest import toy_edges


def test_kmeans_two_planted_clusters(spark):
    pts = [
        (1, [0.0, 0.0]), (2, [0.5, 0.5]),
        (3, [10.0, 10.0]), (4, [10.5, 10.0]), (5, [10.0, 10.5]),
        (6, [10.2, 10.2]), (7, [10.4, 10.4]),
    ]
    df = spark.createDataFrame(pts, "id long, features array<double>")
    assigned, centers = kmeans(df, k=2, seed=1)
    got = {r.id: r.cluster for r in assigned.collect()}
    a = {got[1], got[2]}
    b = {got[i] for i in (3, 4, 5, 6, 7)}
    assert len(a) == 1 and len(b) == 1 and a != b


def sybil_oracle(edges, trusted, iters, n):
    """Reference semantics (SybilRank.java:125-189)."""
    nodes = sorted({v for e in edges for v in e[:2]})
    idx = {v: i for i, v in enumerate(nodes)}
    deg = np.zeros(len(nodes))
    for s, d, w in edges:
        deg[idx[s]] += w
    send = np.zeros(len(nodes))
    for t in trusted:
        send[idx[t]] = n / len(trusted)
    for _ in range(iters):
        recv = np.zeros(len(nodes))
        for s, d, w in edges:
            recv[idx[d]] += send[idx[s]] * w / deg[idx[s]]
        send = recv
    return {v: (send[idx[v]] / deg[idx[v]] if deg[idx[v]] else 0.0) for v in nodes}


def test_sybilrank_oracle(spark):
    rng = np.random.default_rng(4)
    n = 60
    edges = []
    for i in range(1, n + 1):
        for j in range(i + 1, n + 1):
            if rng.random() < 0.1:
                edges.append((i, j, float(rng.integers(1, 4))))
    present = {v for e in edges for v in e[:2]}
    sym = edges + [(d, s, w) for s, d, w in edges]
    trusted_ids = [v for v in sorted(present)[:5]]
    g = Graph.from_edges(toy_edges(spark, edges))
    trusted = spark.createDataFrame([(t,) for t in trusted_ids], "id long")
    res = sybilrank(g, trusted)
    got = {r.id: r.rank for r in res.state.collect()}
    iters = math.ceil(math.log10(len(present)))
    want = sybil_oracle(sym, trusted_ids, iters, len(present))
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v

    # cluster-scale two-shuffle branch reaches the identical trust vector
    res_s = sybilrank(g, trusted, state_broadcast=False)
    got_s = {r.id: r.rank for r in res_s.state.collect()}
    # (approx: float sum order differs between the two physical plans)
    for v in want:
        assert got_s[v] == pytest.approx(got[v], rel=1e-12, abs=1e-15), v


def test_watts_strogatz_sybilrank(spark):
    """The reference's WS generator with trust labeling
    (SybilRankWattsStrogatzVertexInputFormat.java:56-230) feeding
    SybilRank end-to-end: ring+rewire shape invariants hold and the
    trusted region outranks a sparsely-attached sybil region."""
    from okapi_spark.sources.synth_graph import watts_strogatz

    n, kpv = 200, 4
    edges, labels = watts_strogatz(spark, n, edges_per_vertex=kpv, beta=0.2, seed=11,
                                   trust_probability=0.15)
    e = edges.collect()
    # shape: ~n*k edges (minus rare rewire collisions), no self loops
    assert n * kpv * 0.97 <= len(e) <= n * kpv
    assert all(r.src != r.dst for r in e)
    # determinism
    e2 = watts_strogatz(spark, n, edges_per_vertex=kpv, beta=0.2, seed=11,
                        trust_probability=0.15)[0].collect()
    assert sorted((r.src, r.dst) for r in e) == sorted((r.src, r.dst) for r in e2)
    trusted = labels.filter("is_trusted").select("id")
    n_trusted = trusted.count()
    assert 0 < n_trusted < n

    g = Graph.from_edges(edges).symmetrize()
    res = sybilrank(g, trusted)
    ranks = {r.id: r.rank for r in res.state.collect()}
    assert len(ranks) == n
    # trusted vertices hold higher average degree-normalized trust
    t_ids = {r.id for r in trusted.collect()}
    avg_t = sum(ranks[v] for v in t_ids) / len(t_ids)
    avg_o = sum(r for v, r in ranks.items() if v not in t_ids) / (n - len(t_ids))
    assert avg_t > avg_o


def test_sybilrank_csr_matches_sql(spark, monkeypatch):
    """mode='csr' (resident staged CSR blocks — PageRank's kernel over
    the trust shares) agrees with the sql plan within float rounding,
    across partition counts."""
    import numpy as np

    from okapi_spark.graph.graph import Graph
    from okapi_spark.operators.sybilrank import sybilrank
    from okapi_spark.plans import csr_blocks

    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 16)
    rng = np.random.RandomState(59)
    edges = [
        (int(s), int(d), float(w))
        for s, d, w in zip(
            rng.randint(0, 120, 500), rng.randint(0, 120, 500), rng.randint(1, 5, 500)
        )
        if s != d
    ]
    g = Graph.from_edges(
        spark.createDataFrame(edges, "src long, dst long, weight double")
    )
    trusted = spark.createDataFrame([(0,), (3,), (7,)], "id long")
    sql = {r.id: r.rank for r in sybilrank(g, trusted, mode="sql").state.collect()}
    for nparts in (4, 32):
        got = {
            r.id: r.rank
            for r in sybilrank(g, trusted, mode="csr", num_partitions=nparts).state.collect()
        }
        assert set(got) == set(sql)
        assert max(abs(got[k] - sql[k]) for k in sql) < 1e-9, f"p={nparts}"
