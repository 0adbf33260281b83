"""Label propagation: classic LPA vs sequential synchronous oracle;
Spinner balanced mode invariants (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pytest

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.lpa import label_propagation, spinner_partition
from okapi_spark.plans import broadcast
from tests.conftest import toy_edges


def lpa_oracle(edges, iterations, weighted=True):
    """Synchronous LPA: label ← argmax (sum incoming weight), tie → min
    label; vertices with no in-edges keep their label."""
    nodes = sorted({v for e in edges for v in e[:2]})
    lbl = {v: v for v in nodes}
    for _ in range(iterations):
        hist: dict[int, dict[int, float]] = {}
        for s, d, w in edges:
            hist.setdefault(d, {}).setdefault(lbl[s], 0.0)
            hist[d][lbl[s]] += w if weighted else 1.0
        new = {}
        for v in nodes:
            if v in hist:
                best = max(hist[v].items(), key=lambda kv: (kv[1], -kv[0]))
                new[v] = best[0]
            else:
                new[v] = lbl[v]
        lbl = new
    return lbl


def _two_communities():
    """Two dense cliques bridged by one weak edge."""
    edges = []
    for a in range(1, 7):
        for b in range(a + 1, 7):
            edges.append((a, b, 1.0))
    for a in range(11, 17):
        for b in range(a + 1, 17):
            edges.append((a, b, 1.0))
    edges.append((6, 11, 0.1))
    return edges


def test_lpa_fixed_iterations_matches_oracle(spark):
    edges = _two_communities()
    g = Graph.from_edges(toy_edges(spark, edges))
    for iters in (1, 2, 4):
        res = label_propagation(g, iterations=iters)
        got = {r.id: r.lbl for r in res.state.collect()}
        sym = edges + [(d, s, w) for s, d, w in edges]
        want = lpa_oracle(sym, iters)
        assert got == want, f"iterations={iters}"


def test_lpa_shuffle_branch_matches_broadcast(spark):
    """The cluster-scale two-shuffle plan must compute the identical
    label fixpoint as the zero-exchange broadcast plan."""
    edges = _two_communities()
    g = Graph.from_edges(toy_edges(spark, edges))
    for iters in (2, 4):
        res_b = label_propagation(g, iterations=iters, state_broadcast=True)
        res_s = label_propagation(g, iterations=iters, state_broadcast=False)
        # an explicit state_broadcast asks for a sql layout
        assert res_b.plan["resolved"] == res_s.plan["resolved"] == "sql"
        got_b = {r.id: r.lbl for r in res_b.state.collect()}
        got_s = {r.id: r.lbl for r in res_s.state.collect()}
        assert got_b == got_s, f"iterations={iters}"


def test_lpa_converges_to_two_communities(spark):
    edges = _two_communities()
    g = Graph.from_edges(toy_edges(spark, edges))
    res = label_propagation(g, max_supersteps=30)
    got = {r.id: r.lbl for r in res.state.collect()}
    left = {got[v] for v in range(1, 7)}
    right = {got[v] for v in range(11, 17)}
    assert len(left) == 1 and len(right) == 1 and left != right


def test_spinner_balanced_partitioning(spark):
    rng = np.random.default_rng(9)
    n = 80
    edges = []
    for i in range(1, n + 1):
        for j in range(i + 1, n + 1):
            if rng.random() < 0.08:
                edges.append((i, j, 1.0))
    g = Graph.from_edges(toy_edges(spark, edges))
    k = 4
    res = spinner_partition(g, k=k, max_iterations=30)
    rows = res.state.collect()
    parts = {r.id: r.part for r in rows}
    assert set(parts.values()) <= set(range(k))
    # balance invariant: no label exceeds capacity by more than slack
    from collections import Counter

    deg = Counter()
    for s, d, _ in edges:
        deg[s] += 1
        deg[d] += 1
    load = Counter()
    for v, p in parts.items():
        load[p] += deg.get(v, 0)
    total = sum(load.values())
    assert max(load.values()) <= 1.6 * total / k  # soft balance


def test_spinner_protocol_invariants(spark):
    """Reference-protocol checks (Spinner.java:341-418, :600-698):
    final per-label loads stay within ε of capacity (the
    remaining/demand damping cannot overfill a label), migration
    counts shrink as the partitioning settles, and counters are
    logged per round."""
    rng = np.random.default_rng(31)
    n = 120
    edges = []
    for i in range(1, n + 1):
        for j in range(i + 1, n + 1):
            if rng.random() < 0.06:
                edges.append((i, j, 1.0))
    g = Graph.from_edges(toy_edges(spark, edges))
    k = 4
    res = spinner_partition(g, k=k, max_iterations=40, seed=3)
    parts = {r.id: r.part for r in res.state.collect()}

    from collections import Counter
    deg = Counter()
    for s, d, _ in edges:
        deg[s] += 1
        deg[d] += 1
    load = Counter()
    for v, p in parts.items():
        load[p] += deg.get(v, 0)
    total_edges = 2 * len(edges)
    capacity = total_edges * 1.05 / k
    # ε-capacity balance: one round's admissions can overshoot by at
    # most the expected remaining mass, so 15% slack is generous
    assert max(load.values()) <= 1.15 * capacity

    migrations = [m["migrations"] for m in res.metrics_log if not m.get("_halted")]
    assert len(migrations) >= 4
    head = sum(migrations[:3]) / 3
    tail = sum(migrations[-3:]) / 3
    assert tail <= head  # migrations shrink as rounds progress

    # counters present per round (reference :600-698)
    for m in res.metrics_log:
        assert "score" in m and "local_edges_pct" in m and "loads" in m


def test_spinner_prior_partitions_resume(spark):
    """SpinnerVertexValueInputFormat analogue (:919-954): feeding the
    converged assignment back as the prior yields a quiet run (no
    early-round migration storm)."""
    rng = np.random.default_rng(13)
    edges = []
    for i in range(1, 61):
        for j in range(i + 1, 61):
            if rng.random() < 0.1:
                edges.append((i, j, 1.0))
    g = Graph.from_edges(toy_edges(spark, edges))
    res1 = spinner_partition(g, k=3, max_iterations=25, seed=7)
    res2 = spinner_partition(g, k=3, max_iterations=5, seed=7, prior=res1.state)
    m1 = res1.metrics_log[0]["migrations"]
    m2 = res2.metrics_log[0]["migrations"]
    assert m2 <= m1  # warm start migrates no more than the cold start


def test_lpa_bipartite_oscillation_halts(spark):
    """Classic LPA on a complete bipartite graph 2-cycles forever
    (each side adopts the other's min label every round). The state-
    hash halt must detect the repeat and stop well before the budget."""
    edges = [(a, b, 1.0) for a in (1, 2, 3) for b in (4, 5, 6)]
    g = Graph.from_edges(toy_edges(spark, edges))
    res = label_propagation(g, max_supersteps=30)
    assert res.converged
    assert res.supersteps <= 6
    # a genuine oscillation, not quiescence: last round still changed
    assert res.metrics_log[-1]["changed"] > 0


def test_lpa_equal_changed_counts_do_not_halt_early(spark):
    """Round-3 fix: the old halt fired on three equal consecutive
    changed-COUNTS. A path graph produces a CONSTANT changed-count
    (every vertex flips every round as the min-label wave travels)
    while the label state keeps evolving for ~n rounds — the old rule
    froze it at superstep 3. The state-hash halt must keep running
    until the exact state genuinely repeats."""
    n = 14
    edges = [(i, i + 1, 1.0) for i in range(1, n)]
    g = Graph.from_edges(toy_edges(spark, edges))
    res = label_propagation(g, max_supersteps=60)
    counts = [m["changed"] for m in res.metrics_log]
    # fixture guard: the equal-count plateau that tricked the old rule
    plateau = any(
        counts[i] == counts[i + 1] == counts[i + 2] and counts[i] > 0
        for i in range(len(counts) - 2)
    )
    assert plateau, f"fixture no longer produces an equal-count plateau: {counts}"
    assert res.converged
    assert res.supersteps > 5  # old rule halted after 3 supersteps
    # the halt really is a state repeat: the run's final state equals
    # the state two supersteps earlier (period-2 oscillation)
    s_final = {(r.id, r.lbl) for r in
               label_propagation(g, iterations=res.supersteps).state.collect()}
    s_prev2 = {(r.id, r.lbl) for r in
               label_propagation(g, iterations=res.supersteps - 2).state.collect()}
    assert s_final == s_prev2


def test_lpa_oscillation_resume_rehydrates_seen(spark, tmp_path):
    """ADVICE r3: a resumed oscillating run must halt at the SAME
    superstep as the uninterrupted one — the oscillation ledger is
    reseeded from the checkpoint lineage's state_hash metrics, so the
    repeat is detected without replaying a full extra cycle."""
    from okapi_spark.bsp import CheckpointStore

    edges = [(a, b, 1.0) for a in (1, 2, 3) for b in (4, 5, 6)]
    g = Graph.from_edges(toy_edges(spark, edges))
    ref = label_propagation(g, max_supersteps=30)
    assert ref.converged and ref.metrics_log[-1]["changed"] > 0

    store = CheckpointStore(str(tmp_path / "osc"))
    # run 1: stop one superstep BEFORE the uninterrupted halt point by
    # capping the budget, simulating a crash mid-oscillation
    label_propagation(g, max_supersteps=ref.supersteps - 1, store=store)
    # run 2: resume with full budget; with the rehydrated ledger it
    # must halt exactly where the uninterrupted run did
    res = label_propagation(g, max_supersteps=30, store=store)
    assert res.converged
    assert res.supersteps == ref.supersteps
    a = sorted(tuple(r) for r in ref.state.collect())
    b = sorted(tuple(r) for r in res.state.collect())
    assert a == b


def test_lpa_csr_matches_oracle_and_sql_plans(spark, monkeypatch):
    """mode='csr' (partition-local CSR gather-scatter, the north-rule
    physical form) computes the identical label state as the sql plans
    and the sequential oracle — weighted and unweighted, across
    partition counts (partitioning-independence)."""
    from okapi_spark.plans import csr_blocks

    # force multi-block staging at toy scale so the partition-count
    # sweep exercises real cross-block layouts (choose_block_count
    # would otherwise collapse tiny graphs to one block)
    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 16)
    edges = _two_communities()
    g = Graph.from_edges(toy_edges(spark, edges))
    sym = edges + [(d, s, w) for s, d, w in edges]
    for weighted in (True, False):
        for iters in (1, 3):
            want = lpa_oracle(sym, iters, weighted=weighted)
            for nparts in (4, 32):
                res = label_propagation(
                    g, iterations=iters, weighted=weighted,
                    mode="csr", num_partitions=nparts,
                )
                got = {r.id: r.lbl for r in res.state.collect()}
                assert got == want, f"csr weighted={weighted} iters={iters} p={nparts}"


def test_lpa_csr_tie_break_and_random_graph_parity(spark, monkeypatch):
    """Exact ties pick the smallest label in BOTH plans; a seeded
    random graph agrees between csr and sql over several rounds."""
    from okapi_spark.plans import csr_blocks

    # force multi-block staging at toy scale so the partition-count
    # sweep exercises real cross-block layouts (choose_block_count
    # would otherwise collapse tiny graphs to one block)
    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 16)
    # vertex 5 receives weight 2.0 from label-1 side and 2.0 from
    # label-2 side after round 1 state — tie must go to min label
    tie_edges = [(1, 5, 2.0), (2, 5, 2.0), (3, 1, 1.0), (4, 2, 1.0)]
    g = Graph.from_edges(toy_edges(spark, tie_edges))
    a = label_propagation(g, iterations=2, mode="csr")
    b = label_propagation(g, iterations=2, mode="sql")
    assert {r.id: r.lbl for r in a.state.collect()} == {
        r.id: r.lbl for r in b.state.collect()
    }

    rng = np.random.RandomState(17)
    # weights k/4 are exactly binary-representable, so group sums are
    # exact in BOTH plans regardless of accumulation order — ties and
    # comparisons cannot be flipped by float rounding
    redges = [
        (int(s), int(d), float(w) / 4.0)
        for s, d, w in zip(
            rng.randint(0, 60, 400), rng.randint(0, 60, 400), rng.randint(1, 9, 400)
        )
        if s != d
    ]
    g2 = Graph.from_edges(toy_edges(spark, redges))
    a2 = label_propagation(g2, iterations=4, mode="csr", num_partitions=8)
    b2 = label_propagation(g2, iterations=4, mode="sql", num_partitions=32)
    assert {r.id: r.lbl for r in a2.state.collect()} == {
        r.id: r.lbl for r in b2.state.collect()
    }


def test_lpa_csr_byte_gate(spark, monkeypatch):
    edges = _two_communities()
    g = Graph.from_edges(toy_edges(spark, edges))
    monkeypatch.setattr(broadcast, "STATE_BROADCAST_BUDGET_BYTES", 40 * 3)
    with pytest.raises(ValueError, match="broadcast budget"):
        label_propagation(g, iterations=1, mode="csr")


def test_spinner_csr_matches_sql_full_protocol(spark, monkeypatch):
    """mode='csr' runs the identical full Spinner protocol (scores,
    active gating, hash-uniform migrations) as mode='sql' — the only
    difference is the physical form of the two |E|-scale jobs — so
    the final partition assignment must be bit-identical, across
    partition counts and through several migration rounds."""
    from okapi_spark.operators.lpa import spinner_partition
    from okapi_spark.plans import csr_blocks

    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 16)
    rng = np.random.RandomState(67)
    edges = [
        (int(s), int(d), float(w))
        for s, d, w in zip(
            rng.randint(0, 150, 700), rng.randint(0, 150, 700), rng.randint(1, 5, 700)
        )
        if s != d
    ]
    g = Graph.from_edges(toy_edges(spark, edges))
    want = {
        r.id: r.part
        for r in spinner_partition(g, k=8, max_iterations=6, seed=5, mode="sql").state.collect()
    }
    for nparts in (4, 32):
        got = {
            r.id: r.part
            for r in spinner_partition(
                g, k=8, max_iterations=6, seed=5, mode="csr", num_partitions=nparts
            ).state.collect()
        }
        assert got == want, f"csr p={nparts}"


def test_spinner_paths_agree_on_a_salted_hub(spark, monkeypatch):
    """Spinner's three physical paths — the sql broadcast layout, the
    sql salted layout and csr — run the same protocol, so they give a
    bit-identical assignment and migration counters through several
    migrating rounds, here on a weighted graph whose hub (degree > 1024)
    the salted layout shards over nsalt >= 2 keys. Each records its
    plan; an explicit csr over the broadcast budget is refused."""
    from okapi_spark.plans.scatter import shard_count_expr

    P = 4
    rng = np.random.RandomState(23)
    hub = [(0, v, float(rng.randint(1, 4))) for v in range(1, 1201)]
    rest = [
        (int(s), int(d), float(w))
        for s, d, w in zip(rng.randint(1, 1201, 900), rng.randint(1, 1201, 900), rng.randint(1, 4, 900))
        if s != d
    ]
    g = Graph.from_edges(toy_edges(spark, hub + rest))
    sym = g.symmetrize()
    nsalt = shard_count_expr("out_deg", P, sym.num_edges())
    assert sym.degree_weights().filter("src = 0").select(nsalt.alias("n")).first().n >= 2
    sym.unpersist()

    def run(**kw):
        res = spinner_partition(g, k=4, max_iterations=3, seed=3, num_partitions=P, **kw)
        return res, {r.id: r.part for r in res.state.collect()}, [m["migrations"] for m in res.metrics_log]

    want_res, want, want_mig = run(state_broadcast=True)
    assert want_res.plan["resolved"] == "sql" and want_res.plan["state_broadcast"] is True
    assert len(want_mig) == 3 and want_mig[0] > 0  # later rounds gate on real movers
    for kw, resolved in (({"state_broadcast": False}, "sql"), ({"mode": "csr"}, "csr")):
        res, got, mig = run(**kw)
        assert res.plan["resolved"] == resolved, kw
        assert got == want, kw
        assert mig == want_mig, kw
    monkeypatch.setattr(broadcast, "STATE_BROADCAST_BUDGET_BYTES", 40 * 10)
    with pytest.raises(ValueError, match="broadcast budget"):
        spinner_partition(g, k=4, max_iterations=1, mode="csr")
    g.unpersist()
