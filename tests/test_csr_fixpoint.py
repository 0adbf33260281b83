"""The csr fixpoint runner: every physical path agrees on every input.

For each csr operator the local placement (every round in the driver),
the staged per-round placement (fuse window patched to 0) and a
checkpointed run stopped after k rounds and resumed — in the same or
in the other placement — must be BIT-identical: they call the same
step/merge functions over blocks packed in one canonical row order.
Each is also compared with ``mode="sql"``: exactly for the integer
operators and shortest paths, within 1e-12 for PageRank and SybilRank;
triangle counts agree exactly across the local, staged and sql plans.
Plus job-count pins per placement, the degenerate-input regressions,
the staging-dir sweep and the read-only sidecar contract.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import uuid

import numpy as np
import pandas as pd
import pytest

from okapi_spark.bsp import CheckpointStore
from okapi_spark.graph.graph import Graph
from okapi_spark.operators.components import connected_components
from okapi_spark.operators.lpa import label_propagation, spinner_partition
from okapi_spark.operators.pagerank import pagerank
from okapi_spark.operators.sssp import mssp, sssp
from okapi_spark.operators.sybilrank import sybilrank
from okapi_spark.operators.triangles import triangle_count
from okapi_spark.plans import broadcast, csr_blocks
from okapi_spark.plans import csr_fixpoint as fx
from tests.conftest import FIVE_VERTEX, toy_edges

STAR = [(0, i, 1.0) for i in range(1, 13)] + [(1, 2, 1.0)]
_rng = np.random.RandomState(71)
# weights k/8 are exact in binary: float sums cannot flip a tie or a min
RANDOM = [
    (int(s), int(d), float(w) / 8.0)
    for s, d, w in zip(_rng.randint(0, 80, 240), _rng.randint(0, 80, 240), _rng.randint(1, 9, 240))
    if s != d
]

INPUTS = {
    "empty": ([], False),
    "single_edge": ([(1, 2, 1.0)], False),
    "self_loop": ([(1, 1, 1.0), (1, 2, 0.5), (2, 3, 1.0)], True),
    # kept as rows: duplicate (src, dst) pairs are not deduplicated
    "duplicate_edges": ([(1, 2, 1.0), (1, 2, 1.0), (2, 3, 2.0), (3, 1, 0.25), (3, 1, 0.75)], False),
    "star_hub": (STAR, True),
    "two_components": ([(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (7, 8, 2.0), (8, 9, 0.5)], True),
    # vertex 5 hears weight 2.0 from label 1's side and 2.0 from label 2's
    "lpa_tie": ([(1, 5, 2.0), (2, 5, 2.0), (3, 1, 1.0), (4, 2, 1.0)], True),
    "random": (RANDOM, True),
}

# name -> (run(g, mode, store, budget), first-leg budget or None when the
# operator takes no store, float tolerance vs sql or None for exact)
OPS = {
    # capped: a star's rank oscillation decays only 0.85× per round
    "pagerank": (lambda g, m, s, b: pagerank(g, tol=1e-6, max_supersteps=b or 12, mode=m, store=s), 2, 1e-12),
    "sybilrank": (lambda g, m, s, b: sybilrank(g, _trusted(g), mode=m), None, 1e-12),
    "cc": (lambda g, m, s, b: connected_components(g, max_supersteps=b or 200, mode=m, store=s), 1, None),
    "lpa_fixed": (lambda g, m, s, b: label_propagation(g, iterations=b or 4, mode=m, store=s), 2, None),
    "lpa_converge": (lambda g, m, s, b: label_propagation(g, max_supersteps=b or 15, mode=m, store=s), 2, None),
    "sssp": (lambda g, m, s, b: sssp(g, 1, max_supersteps=b or 200, mode=m, store=s), 1, None),
    "mssp": (lambda g, m, s, b: mssp(g, [1, 2], max_supersteps=b or 200, mode=m, store=s), 1, None),
}

# operators whose mode="auto" resolves to csr on these inputs (no store,
# tiny |E| and |V|): auto must be the csr run, bit for bit
AUTO_CSR = ("pagerank", "cc", "lpa_fixed")

_GRAPHS: dict = {}


def _graph(spark, name: str) -> Graph:
    """One Graph per input for the module, so operators share its
    staged layouts the way repeated calls on one Graph do."""
    if name not in _GRAPHS:
        edges, symmetric = INPUTS[name]
        if symmetric:
            df = toy_edges(spark, edges)
        else:
            df = spark.createDataFrame(edges, "src long, dst long, weight double")
        _GRAPHS[name] = Graph.from_edges(df)
    return _GRAPHS[name]


def _trusted(g: Graph):
    # a local table: collecting it runs no Spark job
    return g.edges.sparkSession.createDataFrame(pd.DataFrame({"id": [1, 3]}), "id long")


def _rows(res) -> list:
    return sorted(tuple(r) for r in res.state.collect())


def _same_run(a, b) -> None:
    assert _rows(a) == _rows(b)
    assert (a.supersteps, a.converged) == (b.supersteps, b.converged)


@pytest.fixture(scope="module", autouse=True)
def _release_graphs():
    yield
    for g in _GRAPHS.values():
        g.unpersist()
    _GRAPHS.clear()


@pytest.mark.parametrize("inp", list(INPUTS))
@pytest.mark.parametrize("op", list(OPS))
def test_csr_paths_agree(spark, monkeypatch, tmp_path, op, inp):
    run, first_leg, tol = OPS[op]
    # several blocks per task set, so per-round jobs span several tasks
    monkeypatch.setattr(csr_blocks, "_TARGET_BLOCK_ROWS", 4)
    g = _graph(spark, inp)
    fused = run(g, "csr", None, None)  # the local placement
    if op in AUTO_CSR:
        auto = run(g, "auto", None, None)
        assert (auto.plan["requested"], auto.plan["resolved"]) == ("auto", "csr")
        _same_run(fused, auto)
    with monkeypatch.context() as mp:
        mp.setattr(fx, "_FUSE_MAX_EDGES", 0)
        _same_run(fused, run(g, "csr", None, None))
    if first_leg is not None:
        store = CheckpointStore(str(tmp_path / "ckpt"))
        run(g, "csr", store, first_leg)
        _same_run(fused, run(g, "csr", store, None))
        # a finished run's ledger tip is halted or at budget: re-running
        # resumes to the same answer without new rounds
        n = len(store.lineage())
        _same_run(fused, run(g, "csr", store, None))
        assert len(store.lineage()) == n
    sql = run(g, "sql", None, None)
    assert fused.converged == sql.converged
    if tol is None:
        assert _rows(fused) == _rows(sql)
    else:
        a, b = dict(_rows(fused)), dict(_rows(sql))
        assert set(a) == set(b)
        assert all(abs(a[v] - b[v]) <= tol for v in a)


def test_mssp_duplicate_source_rows(spark, monkeypatch):
    """Duplicate source rows (and a source that is not a vertex) keep
    the DataFrame loop's output: one (o, o, 0) row per source row."""
    g = _graph(spark, "two_components")
    srcs = [1, 1, 7, 99, 99]
    fused = mssp(g, srcs, mode="csr")
    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)
    _same_run(fused, mssp(g, srcs, mode="csr"))
    rows = _rows(fused)
    assert rows == _rows(mssp(g, srcs, mode="sql"))
    assert rows.count((1, 1, 0.0)) == 2 and rows.count((99, 99, 0.0)) == 2
    assert rows.count((7, 7, 0.0)) == 1


@pytest.mark.parametrize("inp", list(INPUTS))
def test_triangle_paths_agree(spark, monkeypatch, tmp_path, inp):
    """The local count (driver-side key array), the staged count (fuse
    window patched to 0, and an explicit ``block_dir``) and the sql
    wedge plan count exactly the same triangles on every input."""
    g = _graph(spark, inp)
    local = triangle_count(g, mode="csr")
    assert local == triangle_count(g, mode="sql")
    assert local == triangle_count(g, mode="csr", block_dir=str(tmp_path))
    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)
    assert local == triangle_count(g, mode="csr")


def test_store_resumes_across_placements(spark, monkeypatch, tmp_path):
    """A checkpoint store written by one placement resumes bit-identically
    in the other: both write the same (id, state) parquet."""
    g = _graph(spark, "random")
    want = pagerank(g, iterations=6, mode="csr")
    for first, second in ((0, fx._FUSE_MAX_EDGES), (fx._FUSE_MAX_EDGES, 0)):
        store = CheckpointStore(str(tmp_path / f"pr{first}"))
        with monkeypatch.context() as mp:
            mp.setattr(fx, "_FUSE_MAX_EDGES", first)
            pagerank(g, iterations=3, mode="csr", store=store)
        with monkeypatch.context() as mp:
            mp.setattr(fx, "_FUSE_MAX_EDGES", second)
            _same_run(want, pagerank(g, iterations=6, mode="csr", store=store))
        assert [e["superstep"] for e in store.lineage()] == list(range(6))


def test_pagerank_csr_fixed_iters_matches_sql_and_reuses_blocks(spark, monkeypatch):
    """Fixed-iteration csr ranks match the sql broadcast plan, the
    metrics_log keeps the bench-consumed keys, and a second call on
    the same Graph reuses the memoized staged blocks (staged
    placement: fuse window patched to 0)."""
    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)
    rng = np.random.default_rng(9)
    edges = [(i, j, 1.0) for i in range(1, 91) for j in range(1, 91) if i != j and rng.random() < 0.06]
    g = Graph.from_edges(spark.createDataFrame(edges, "src long, dst long, weight double"))
    rs = pagerank(g, iterations=6, mode="sql")
    rc = pagerank(g, iterations=6, mode="csr")
    a, b = dict(_rows(rs)), dict(_rows(rc))
    assert set(a) == set(b)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12
    assert rc.supersteps == 6 and not rc.converged
    for m in rc.metrics_log:
        assert "superstep_sec" in m and "edges_processed" in m
    P = spark.sparkContext.defaultParallelism
    staged = g._derived[("csr_blocks", "pr", P)]
    assert dict(_rows(pagerank(g, iterations=6, mode="csr"))) == b
    assert g._derived[("csr_blocks", "pr", P)] is staged
    with pytest.raises(ValueError):
        pagerank(g, mode="csr_cogroup")
    g.unpersist()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, read from ``statusTracker()`` under a
    fresh job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _csr_calls(g: Graph) -> dict:
    trusted = _trusted(g)
    return {
        "pagerank": lambda: pagerank(g, mode="csr"),
        "sybilrank": lambda: sybilrank(g, trusted, mode="csr"),
        "cc": lambda: connected_components(g, mode="csr"),
        "lpa": lambda: label_propagation(g, iterations=4, mode="csr"),
        "sssp": lambda: sssp(g, 1, mode="csr"),
        "mssp": lambda: mssp(g, [1, 7], mode="csr"),
    }


def test_csr_operator_on_warm_graph_is_one_job(spark, monkeypatch):
    """Staged placement (fuse window patched to 0): each round of a warm
    csr call is ONE kernel job — no staging, id gather or metric job."""
    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)
    g = _graph(spark, "two_components")
    for name, call in _csr_calls(g).items():
        call()  # cold: stages the blocks, gathers the ids
        warm = []
        assert _jobs(spark, lambda: warm.append(call())) == warm[0].supersteps, name


def test_csr_operator_on_warm_graph_runs_no_job(spark):
    """Local placement: once a Graph's local layout is gathered, a csr
    call (and auto PageRank, CC and LPA, and the csr triangle count)
    runs no Spark job at all."""
    g = _graph(spark, "two_components")
    calls = _csr_calls(g) | {
        "pagerank_auto": lambda: pagerank(g),
        "cc_auto": lambda: connected_components(g),
        "lpa_auto": lambda: label_propagation(g, iterations=4),
        "triangles": lambda: triangle_count(g),
    }
    for name, call in calls.items():
        call()  # cold: gathers the local layout
        assert _jobs(spark, call) == 0, name


def test_triangle_count_after_cc_runs_no_job(spark):
    """In the fuse window the csr triangle count resolves its pivot keys
    from the (src, dst, w) layout CC gathers: its first call on a fresh
    Graph right after ``connected_components`` runs no Spark job."""
    g = Graph.from_edges(toy_edges(spark, INPUTS["two_components"][0]))
    connected_components(g)
    assert _jobs(spark, lambda: triangle_count(g)) == 0
    g.unpersist()


def test_auto_plan_resolution(spark, monkeypatch, tmp_path):
    """mode="auto" resolves through one gate and records it in
    ``res.plan``: csr when fusable, sql with a store, with an explicit
    ``state_broadcast`` (PageRank, CC and LPA alike), past the fuse
    window or past the state budget (LPA: csr only for
    fixed-iteration runs). Explicit modes are kept as asked."""
    g = _graph(spark, "two_components")
    n, m = g.num_vertices(), g.num_edges()
    pr = pagerank(g)
    assert pr.plan == {
        "requested": "auto", "resolved": "csr", "n_edges": m, "fuse_max_edges": fx._FUSE_MAX_EDGES,
        "state_bytes": 32 * n, "state_budget_bytes": broadcast.STATE_BROADCAST_BUDGET_BYTES,
        "store": False, "state_broadcast": None, "placement": "local", "layout": None,
    }
    with monkeypatch.context() as mp:
        mp.setattr(broadcast, "STATE_BROADCAST_BUDGET_BYTES", 32 * (n - 1))
        over_budget = pagerank(g, iterations=1)
    resolved = {
        "pr_store": pagerank(g, iterations=1, store=CheckpointStore(str(tmp_path / "pr"))),
        "pr_state_broadcast": pagerank(g, iterations=1, state_broadcast=True),
        "pr_over_budget": over_budget,
        "pr_sql": pagerank(g, iterations=1, mode="sql"),
        "cc_store": connected_components(g, store=CheckpointStore(str(tmp_path / "cc"))),
        "cc_state_broadcast": connected_components(g, state_broadcast=True),
        "cc_salted": connected_components(g, state_broadcast=False),
        "lpa_state_broadcast": label_propagation(g, iterations=1, state_broadcast=True),
        "lpa_salted": label_propagation(g, iterations=1, state_broadcast=False),
        "lpa_converge": label_propagation(g, max_supersteps=3),
        "lpa_store": label_propagation(g, iterations=1, store=CheckpointStore(str(tmp_path / "lpa"))),
    }
    for name, res in resolved.items():
        assert res.plan["resolved"] == "sql", name
    assert resolved["pr_store"].plan["store"]
    for name in ("pr_state_broadcast", "cc_state_broadcast", "lpa_state_broadcast"):
        assert resolved[name].plan["state_broadcast"] is True, name
    assert resolved["cc_salted"].plan["state_broadcast"] is False
    for name, res in resolved.items():
        salted = name in ("cc_salted", "lpa_salted", "pr_over_budget")
        assert res.plan["layout"] == ("salted" if salted else "broadcast"), name
    p = resolved["pr_over_budget"].plan
    assert p["state_budget_bytes"] == 32 * (n - 1) < p["state_bytes"]
    assert resolved["pr_sql"].plan["requested"] == "sql"
    assert not resolved["lpa_converge"].plan["fixed_iterations"]
    assert connected_components(g).plan["resolved"] == "csr"
    assert label_propagation(g, iterations=2).plan["resolved"] == "csr"
    assert pagerank(g, iterations=1, mode="csr", store=CheckpointStore(str(tmp_path / "pr_csr"))).plan[
        "resolved"] == "csr"
    assert all(res.plan["placement"] is None for res in resolved.values())
    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)
    for res in (pagerank(g, iterations=1), connected_components(g), label_propagation(g, iterations=1)):
        assert (res.plan["resolved"], res.plan["fuse_max_edges"]) == ("sql", 0)
    assert pagerank(g, iterations=1, mode="csr").plan["placement"] == "staged"


@pytest.mark.parametrize("kw", ["store", "state_broadcast"])
def test_auto_sql_pagerank_builds_one_vertex_dictionary(spark, tmp_path, kw):
    """A default-mode PageRank that resolves to sql before |V| is known
    (a store or an explicit state_broadcast) counts |V| through the sql
    plan's own vertex dictionary: one persisted dictionary, not a csr
    width one as well."""
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    try:
        arg = CheckpointStore(str(tmp_path / "pr")) if kw == "store" else True
        res = pagerank(g, iterations=2, **{kw: arg})
        assert res.plan["resolved"] == "sql"
        dicts = [k for k in g._derived if k[0] == "verts_by_id"]
        assert dicts == [("verts_by_id", spark.sparkContext.defaultParallelism)]  # the sql layout width
    finally:
        g.unpersist()


def test_sql_sssp_builds_no_vertex_dictionary(spark):
    """The sql shortest-paths loop reads no vertex dictionary, so its
    gate counts |V| without building (and persisting) one."""
    g = Graph.from_edges(toy_edges(spark, FIVE_VERTEX))
    try:
        res = sssp(g, 1, mode="sql")
        assert res.plan["resolved"] == "sql" and res.plan["state_bytes"] == 32 * g.num_vertices()
        assert not [k for k in g._derived if k[0] == "verts_by_id"]
    finally:
        g.unpersist()


# name -> (call(g, mode), per-vertex state bytes, whether its sql plan
# has a scatter layout)
GATED = {
    "pagerank": (lambda g, m: pagerank(g, iterations=1, mode=m), 32, True),
    "sybilrank": (lambda g, m: sybilrank(g, _trusted(g), mode=m), 32, True),
    "cc": (lambda g, m: connected_components(g, mode=m), 32, True),
    "lpa": (lambda g, m: label_propagation(g, iterations=1, mode=m), 40, True),
    "spinner": (lambda g, m: spinner_partition(g, k=2, max_iterations=1, mode=m), 40, True),
    "sssp": (lambda g, m: sssp(g, 1, mode=m), 32, False),
    "mssp": (lambda g, m: mssp(g, [1, 2], mode=m), 48 * 2, False),
}


@pytest.mark.parametrize("op", list(GATED))
def test_one_gate_records_the_plan(spark, monkeypatch, op):
    """csr_fixpoint.plan decides every iterative operator's physical plan
    from one estimate — |V| · the operator's state row bytes against the
    state budget — and records that comparison: a sql call's scatter
    layout is "broadcast" while the state fits and "salted" once it
    does not (None for SSSP/MSSP, which have no scatter layout), and an
    explicit csr call over the budget is refused. LPA's 40 B decide
    its auto call too: between 32·|V| and 40·|V| it runs salted sql."""
    call, row_bytes, has_scatter = GATED[op]
    g = _graph(spark, "two_components")
    n = g.num_vertices()
    for budget in (broadcast.STATE_BROADCAST_BUDGET_BYTES, row_bytes * n - 1):
        monkeypatch.setattr(broadcast, "STATE_BROADCAST_BUDGET_BYTES", budget)
        p = call(g, "sql").plan
        assert (p["requested"], p["resolved"], p["placement"]) == ("sql", "sql", None)
        assert (p["state_bytes"], p["state_budget_bytes"]) == (row_bytes * n, budget)
        fits = p["state_bytes"] <= p["state_budget_bytes"]
        assert p["layout"] == (("broadcast" if fits else "salted") if has_scatter else None)
    with pytest.raises(ValueError, match="broadcast budget"):
        call(g, "csr")
    if op == "lpa":
        monkeypatch.setattr(broadcast, "STATE_BROADCAST_BUDGET_BYTES", 36 * n)
        p = label_propagation(g, iterations=1).plan
        assert (p["requested"], p["resolved"], p["placement"], p["layout"]) == ("auto", "sql", None, "salted")
        assert p["state_bytes"] == 40 * n > p["state_budget_bytes"]
    monkeypatch.undo()
    p = call(g, "csr").plan
    assert (p["requested"], p["resolved"], p["layout"]) == ("csr", "csr", None)
    assert p["placement"] == ("staged" if op == "spinner" else "local")


def test_checkpointed_pagerank_jobs(spark, monkeypatch, tmp_path):
    """A checkpointed staged csr PageRank of N supersteps on a warm Graph
    is N kernel jobs (fuse window patched to 0): the driver writes and
    reads the NumPy checkpoints itself, so there is no per-superstep
    gather, count or parquet job."""
    monkeypatch.setattr(fx, "_FUSE_MAX_EDGES", 0)
    g = _graph(spark, "star_hub")
    pagerank(g, mode="csr", iterations=1)
    store = CheckpointStore(str(tmp_path / "pr"))
    assert _jobs(spark, lambda: pagerank(g, mode="csr", iterations=3, store=store)) == 3
    assert _jobs(spark, lambda: pagerank(g, mode="csr", iterations=4, store=store)) == 1
    # the store stays readable by Spark, one (id, rank) row per vertex
    assert store.load(spark, 3).count() == g.num_vertices()


def test_checkpointed_local_superstep_runs_no_job(spark, tmp_path):
    """In the fuse window a checkpointed csr PageRank runs every round in
    the driver and writes its checkpoints with pyarrow: no Spark job
    per superstep, and a resume runs none either."""
    g = _graph(spark, "star_hub")
    pagerank(g, mode="csr", iterations=1)
    store = CheckpointStore(str(tmp_path / "pr"))
    assert _jobs(spark, lambda: pagerank(g, mode="csr", iterations=3, store=store)) == 0
    res = pagerank(g, mode="csr", iterations=4, store=store)
    assert res.supersteps == 4 and len(store.lineage()) == 4
    assert _jobs(spark, lambda: pagerank(g, mode="csr", iterations=5, store=store)) == 0
    assert store.load(spark, 4).count() == g.num_vertices()


def test_orphaned_staging_dirs_are_swept(spark):
    """Staging dirs carry their owner pid; a new one removes the dirs
    whose owner is dead (a SIGKILLed or OOM-killed driver never runs
    its atexit sweep) and keeps a live owner's."""
    proc = subprocess.Popen(["true"])
    proc.wait()  # a pid that is gone
    root = tempfile.gettempdir()
    dead = tempfile.mkdtemp(prefix=f"okapi_csr_blocks_pid{proc.pid}_", dir=root)
    open(os.path.join(dead, "b-1-0.src.npy"), "w").close()
    mine = csr_blocks.default_block_dir(spark)
    try:
        assert os.path.basename(mine).startswith(f"okapi_csr_blocks_pid{os.getpid()}_")
        assert not os.path.exists(dead)
        csr_blocks.default_block_dir(spark)  # sweeping again spares the live owner's dirs
        assert os.path.isdir(mine)
    finally:
        csr_blocks._cleanup_all_dirs()


def test_degenerate_inputs(spark):
    """Empty graphs return zero rows of the operator's schema (converged
    unless a fixed iteration count was asked for); a self-loop on a
    symmetric graph no longer trips the csr triangle staging."""
    from okapi_spark.operators.triangles import triangle_count

    g = _graph(spark, "empty")
    for kw in ({"mode": "sql"}, {"mode": "csr"}, {"mode": "csr", "iterations": 3}, {"iterations": 3}):
        res = pagerank(g, **kw)
        assert res.state.count() == 0 and res.state.columns == ["id", "rank"]
        assert res.converged == ("iterations" not in kw)
    res = label_propagation(g, mode="sql")
    assert res.state.count() == 0 and res.converged
    res = sybilrank(g, _trusted(g))
    assert res.state.count() == 0 and res.state.columns == ["id", "rank"]

    tri = Graph.from_edges(
        toy_edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (3, 3, 1.0), (3, 4, 1.0)]),
        symmetric_distinct=True,
    )
    assert triangle_count(tri) == triangle_count(tri, mode="csr") == triangle_count(tri, mode="sql") == 1
    tri.unpersist()


def test_resolved_arrays_read_only(tmp_path):
    """Sidecar position arrays are read-only on both the cold (builder)
    and the warm (memmap) path."""
    built = csr_blocks.resolved_arrays("t", 1, 0, str(tmp_path), "pos", lambda: {"a": np.arange(5)})
    with pytest.raises(ValueError):
        built["a"][0] = 1
    csr_blocks._BLOCK_CACHE.pop(("t#pos", 1, 0))
    warm = csr_blocks.resolved_arrays("t", 1, 0, str(tmp_path), "pos", lambda: pytest.fail("rebuilt"))
    assert warm["a"].tolist() == [0, 1, 2, 3, 4]
    with pytest.raises(ValueError):
        warm["a"][0] = 1
