"""Smaller parity pieces: examples, MSSP fraction sources, approximate
Jaccard, point/value/id-list readers."""

from __future__ import annotations

import pytest

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.examples import count_in_edges, master_compute_demo
from okapi_spark.operators.similarity import jaccard, jaccard_approx
from okapi_spark.operators.sssp import mssp, mssp_sources_by_fraction, sssp
from okapi_spark.sources.edgelist import read_id_list, read_points, read_vertex_values
from tests.conftest import FIVE_VERTEX, toy_edges
from tests.oracles import sssp_oracle


def test_count_in_edges(spark):
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    got = {r.id: r.in_deg for r in count_in_edges(g).collect()}
    assert got == {1: 2, 2: 2, 3: 4, 4: 2, 5: 2}


def test_master_compute_demo(spark):
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    assert master_compute_demo(g, supersteps=3) == [1.0, 2.0, 3.0]


def test_mssp_fraction_sources_deterministic(spark):
    """MultipleSourceShortestPathsTest.java:50-52 shape: seeded
    fraction-based source selection is reproducible."""
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    # fraction mode returns a DataFrame (sources never transit the
    # driver — they can be O(|V|)); collected here only to assert
    sources_df = mssp_sources_by_fraction(g, fraction=0.4, seed=0)
    s1 = sorted(r.id for r in sources_df.collect())
    s2 = sorted(r.id for r in mssp_sources_by_fraction(g, fraction=0.4, seed=0).collect())
    assert s1 == s2 and len(s1) >= 1
    res = mssp(g, sources_df)
    sym = FIVE_VERTEX + [(d, s, w) for s, d, w in FIVE_VERTEX]
    for src in s1:
        want = sssp_oracle(sym, src)
        got = {r.id: r.dist for r in res.state.filter(f"origin = {src}").collect()}
        assert got == want


def test_jaccard_approx_tracks_exact(spark):
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    exact = {(r.u, r.v): r.sim for r in jaccard(g).collect()}
    approx = {(r.u, r.v): r.sim for r in jaccard_approx(g, num_hashes=256).collect()}
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) < 0.15, k  # 256 hashes → σ≈0.03


def test_aux_readers(spark, tmp_path):
    (tmp_path / "pts.txt").write_text("1 0.5,1.5\n2 2.0,3.0\n")
    pts = read_points(spark, str(tmp_path / "pts.txt"))
    assert {(r.id, tuple(r.features)) for r in pts.collect()} == {
        (1, (0.5, 1.5)), (2, (2.0, 3.0))
    }
    (tmp_path / "vv.txt").write_text("1 0\n2 1\n")
    vv = read_vertex_values(spark, str(tmp_path / "vv.txt"))
    assert {(r.id, r.part) for r in vv.collect()} == {(1, 0), (2, 1)}
    (tmp_path / "ids.txt").write_text("7\n9\n")
    ids = read_id_list(spark, str(tmp_path / "ids.txt"))
    assert sorted(r.id for r in ids.collect()) == [7, 9]


def test_sssp_csr_matches_oracle_and_sql(spark, monkeypatch):
    """mode='csr' (relaxation over resident staged CSR blocks) reaches
    the identical distances as the sql plan and the Dijkstra oracle,
    across partition counts; unreached vertices stay absent. Both
    modes record their plan, and csr over the byte budget is refused."""
    from okapi_spark.plans import csr_blocks

    # force multi-block staging at toy scale so the partition-count
    # sweep exercises real cross-block layouts (choose_block_count
    # would otherwise collapse tiny graphs to one block)
    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 16)
    import numpy as np

    rng = np.random.RandomState(31)
    edges = [
        (int(s), int(d), float(w) / 4.0)
        for s, d, w in zip(
            rng.randint(0, 150, 500), rng.randint(0, 150, 500), rng.randint(1, 9, 500)
        )
        if s != d
    ]
    g = Graph.from_edges(toy_edges(spark, edges))
    want = sssp_oracle(edges + [(d, s, w) for s, d, w in edges], 0)
    res = sssp(g, 0, mode="sql")
    assert res.plan["resolved"] == "sql"
    assert {r.id: r.dist for r in res.state.collect()} == want
    for nparts in (4, 32):
        res = sssp(g, 0, mode="csr", num_partitions=nparts)
        assert res.plan["resolved"] == "csr"
        assert {r.id: r.dist for r in res.state.collect()} == want, f"csr p={nparts}"
    # the csr byte gate is csr_fixpoint.plan's: over budget, csr is refused
    from okapi_spark.plans import broadcast

    monkeypatch.setattr(broadcast, "STATE_BROADCAST_BUDGET_BYTES", 0)
    with pytest.raises(ValueError, match="broadcast budget"):
        sssp(g, 0, mode="csr")


def test_mssp_csr_matches_oracle_and_sql(spark, monkeypatch):
    """mode='csr' multi-source relaxation (resident staged CSR blocks,
    variable-width frontier expansion per src) reaches the identical
    per-(id, origin) distances as the sql plan and the per-source
    Dijkstra oracle, across partition counts."""
    import numpy as np

    from okapi_spark.plans import csr_blocks

    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 16)
    rng = np.random.RandomState(43)
    edges = [
        (int(s), int(d), float(w) / 4.0)
        for s, d, w in zip(
            rng.randint(0, 100, 400), rng.randint(0, 100, 400), rng.randint(1, 9, 400)
        )
        if s != d
    ]
    g = Graph.from_edges(toy_edges(spark, edges))
    srcs = [0, 11, 47]
    sym = edges + [(d, s, w) for s, d, w in edges]
    want = {}
    for s in srcs:
        for vid, dist in sssp_oracle(sym, s).items():
            want[(vid, s)] = dist
    sql = {(r.id, r.origin): r.dist for r in mssp(g, srcs, mode="sql").state.collect()}
    assert sql == want
    for nparts in (4, 32):
        got = {
            (r.id, r.origin): r.dist
            for r in mssp(g, srcs, mode="csr", num_partitions=nparts).state.collect()
        }
        assert got == want, f"csr p={nparts}"
