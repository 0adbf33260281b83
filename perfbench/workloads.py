"""The two workloads, each as set-up plus one repeatable run.

``flagship``: the north-star pipeline. A seeded corpus is generated,
induced into its co-commit graph, ranked with PageRank to 1e-6 in the
default (sql) mode and its top 20 decoded. Every layout is built fresh
and released at the end of the run.

``operator_suite``: a seeded co-purchase graph, built once in set-up
and given a seeded id relabel. Each run builds a fresh ``Graph`` over
it and calls every operator twice: the first call builds the layouts,
the repeat hits the Graph's memo. Last, csr PageRank runs checkpointed
and is then resumed from its store.

Each operator call is timed through the ``Tracer`` and checked against
a reference answer after the timed part of the run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import reference
import tracing

OPS = (
    "pagerank", "pagerank_csr", "components", "lpa", "triangles", "pagerank_ckpt",
)
OP_FIELDS = (
    ("cold_s", "s"), ("warm_s", "s"), ("layout_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("supersteps", "count"), ("superstep_s", "s"),
    ("busy_frac", "fraction"), ("shuffle_bytes", "bytes"), ("gc_s", "s"),
)
LAYER_METRICS = (
    [("setup_wall_s", "s"), ("session.start_s", "s"), ("sources.generate_s", "s"),
     ("graph.induce_s", "s"), ("graph.induce_jobs", "count"),
     ("graph.induce_shuffle_bytes", "bytes"),
     ("graph.from_edges_s", "s"), ("graph.decode_s", "s"), ("graph.edges", "count"),
     ("graph.vertices", "count")]
    + [(f"{op}.{f}", u) for op in OPS for f, u in OP_FIELDS]
    + [("plans.staged_bytes", "bytes"), ("plans.staged_files", "count"),
       ("bsp.checkpoint_bytes", "bytes"), ("bsp.checkpoints", "count"),
       ("bsp.resume_s", "s"), ("bsp.jobs_per_superstep", "count"),
       ("box.sys_pct", "%"), ("box.iowait_pct", "%"), ("box.steal_pct", "%"),
       ("box.loadavg_1m", "load"), ("run_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
       ("cold_cpu_s", "s"), ("warm_cpu_s", "s"), ("edges_per_s", "edges/s"),
       ("edges_per_cpu_s", "edges/s"),
       ("trace_overhead_frac", "fraction"),
       ("error_rate", "fraction")]
)
END_TO_END = (("setup_s", "s"), ("run_cpu_s", "s"), ("peak_rss_mb", "MB"))
PR_TOL = 1e-6


@dataclass
class Sizes:
    """Input sizes of one workload run."""

    flagship_sf: float = 0.02
    # dense enough (mean degree ~32) to be one component, so PageRank
    # converges in the same number of supersteps for every seed; at 20k
    # parts it took 11 to 26
    orders: int = 10_000
    parts: int = 5_000
    ckpt_first: int = 1  # checkpointed supersteps before the resume
    ckpt_total: int = 2


BENCH_SIZES = Sizes()
SMOKE_SIZES = Sizes(flagship_sf=0.001, orders=300, parts=200)


@dataclass
class Call:
    op: str
    # "cold": an operator's first call on a fresh Graph; "warm": its
    # repeat on the same Graph; "once": decoding and release
    phase: str
    span: tracing.Span
    result: object
    ok: bool


@dataclass
class Run:
    """What one run measured."""

    wall_s: float = 0.0  # sum of the timed segments
    cpu_s: float = 0.0
    calls: list[Call] = field(default_factory=list)
    segments: dict[str, tracing.Span] = field(default_factory=dict)
    box: dict = field(default_factory=dict)
    n_edges: int = 0
    n_vertices: int = 0
    staged: tuple[int, int] = (0, 0)
    ckpt_bytes: int = 0
    ckpt_entries: int = 0

    def attempted(self) -> int:
        return len(self.calls)

    def failed(self) -> int:
        return sum(not c.ok for c in self.calls)

    def op_calls(self, op: str) -> list[Call]:
        return [c for c in self.calls if c.op == op]

    def phase_s(self, phase: str, cpu: bool = False) -> float:
        return sum(c.span.cpu_s if cpu else c.span.wall_s
                   for c in self.calls if c.phase == phase)


def new_supersteps(res) -> list[dict]:
    """metrics_log entries of supersteps this call executed (entries
    replayed from a checkpoint ledger carry no ``superstep_sec``)."""
    return [m for m in res.metrics_log if "superstep_sec" in m]


class Bench:
    """One benchmark process: the session, its directories, the tracer,
    and the reference answers of the current input."""

    def __init__(self, spark, work: str, cores: int, repo_root: str):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.repo_root = repo_root
        self.tracer = tracing.Tracer(spark, enabled=False)
        self.tmp = os.environ["TMPDIR"]
        self.refs: dict = {}

    # -- timing ----------------------------------------------------------
    @contextmanager
    def segment(self, run: Run, name: str):
        """A timed part of the run: its wall counts in ``run.wall_s``."""
        with self.tracer.span(name) as sp:
            yield sp
        run.segments[name] = sp
        run.wall_s += sp.wall_s
        run.cpu_s += sp.cpu_s

    def call(self, run: Run, op: str, phase: str, fn):
        """Time one operator call. A call that raises is counted as
        failed; the run goes on with the next call."""
        result, ok = None, True
        with self.segment(run, f"{op}.{phase}") as sp:
            try:
                result = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        run.calls.append(Call(op, phase, sp, result, ok))
        return result

    # -- answer checks -----------------------------------------------------
    def check(self, run: Run, op: str, phase: str, ok_fn) -> None:
        for c in run.calls:
            if c.op == op and c.phase == phase and c.ok:
                try:
                    c.ok = bool(ok_fn(c.result))
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    c.ok = False
                if not c.ok:
                    print(f"[perfbench] answer check failed: {op}.{phase}", file=sys.stderr)

    @staticmethod
    def collect(df, value: str) -> tuple[np.ndarray, np.ndarray]:
        pdf = df.select("id", value).toPandas().sort_values("id")
        return pdf["id"].to_numpy("int64"), pdf[value].to_numpy()

    def ranks_match(self, res, ref_key: str, atol: float) -> bool:
        ids, ranks = self.collect(res.state, "rank")
        rid, rranks = self.refs[ref_key]
        return len(ids) == len(rid) and np.allclose(
            ranks, reference.by_id(rid, rranks, ids), rtol=0.0, atol=atol
        )

    def comps_match(self, res) -> bool:
        ids, comp = self.collect(res.state, "comp")
        rid, rcomp = self.refs["cc"]
        return len(ids) == len(rid) and np.array_equal(comp, reference.by_id(rid, rcomp, ids))

    def edge_refs(self, g) -> tuple[np.ndarray, np.ndarray]:
        """PageRank and CC references of graph ``g``'s edge set."""
        pdf = g.edges.select("src", "dst").toPandas()
        src, dst = pdf["src"].to_numpy("int64"), pdf["dst"].to_numpy("int64")
        ids, ranks, _ = reference.pagerank(src, dst, tol=PR_TOL)
        self.refs["pr"] = (ids, ranks)
        self.refs["cc"] = reference.components(src, dst)
        return src, dst

    # -- layer probes --------------------------------------------------------
    def staged(self) -> tuple[int, int]:
        return tracing.du(self.tmp, "okapi_csr_blocks_")

    def release_check(self, run: Run, g, extra=()) -> None:
        """Release the run's layouts (timed), then check nothing staged
        survives and the staged footprint did not grow since the first
        run. Counted as one more call."""
        def release():
            g.unpersist()
            for df in extra:
                df.unpersist()

        self.call(run, "release", "once", release)
        left = self.staged()
        first = self.refs.setdefault("staged", run.staged)
        ok = left == (0, 0) and run.staged[0] <= first[0]
        if not ok:
            print(f"[perfbench] staging leak: left={left} staged={run.staged} "
                  f"first={first}", file=sys.stderr)
            run.calls[-1].ok = False


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def flagship_setup(b: Bench, seed: int, sizes: Sizes) -> None:
    b.refs["seed"] = seed


def flagship_run(b: Bench, sizes: Sizes) -> Run:
    from pyspark.sql import functions as F

    from okapi_spark.graph.induce import induce_edges, vertices_table
    from okapi_spark.operators.pagerank import pagerank
    from okapi_spark.sources.corpus import generate_documents

    spark = b.spark
    run = Run()
    c0 = tracing.cpu_times()
    with b.segment(run, "sources.generate"):
        docs = generate_documents(spark, sf=sizes.flagship_sf, seed=b.refs["seed"]).cache()
        docs.count()
    with b.segment(run, "graph.induce"):
        g = induce_edges(docs)
        g.num_edges()
    res = b.call(run, "pagerank", "cold", lambda: pagerank(g, tol=PR_TOL))
    b.call(run, "decode", "once", lambda: (
        res.state.orderBy(F.desc("rank")).limit(20)
        .join(vertices_table(docs), "id").select("repo", "path", "rank").collect()
    ))
    run.staged = b.staged()
    run.n_edges, run.n_vertices = g.num_edges(), g.num_vertices()
    if "pr" not in b.refs:
        b.edge_refs(g)
    b.check(run, "pagerank", "cold", lambda r: b.ranks_match(r, "pr", PR_TOL))
    b.check(run, "decode", "once", lambda rows: _top20_ok(b, rows))
    b.release_check(run, g, extra=(docs,))
    run.box = tracing.cpu_delta(c0, tracing.cpu_times())
    return run


def _top20_ok(b: Bench, rows) -> bool:
    want = np.sort(b.refs["pr"][1])[::-1][:20]
    got = np.array([r["rank"] for r in rows])
    keys = {(r["repo"], r["path"]) for r in rows}
    return len(rows) == 20 and len(keys) == 20 and np.allclose(
        np.sort(got)[::-1], want, rtol=0.0, atol=PR_TOL)


# ---------------------------------------------------------------------------
# operator_suite
# ---------------------------------------------------------------------------

def suite_setup(b: Bench, seed: int, sizes: Sizes) -> None:
    """A seeded lineitem table, its co-purchase graph and a seeded id
    relabel. The graph is built with NumPy, so set-up pays no Spark
    induction (``graph.induce`` is measured on ``flagship``); the
    triangle oracle re-derives it from the lineitem table in DuckDB."""
    import pandas as pd

    orderkey, partkey = reference.lineitem(seed, sizes.orders, sizes.parts)
    b.refs["lineitem"] = os.path.join(b.work, "lineitem")
    reference.write_lineitem(b.refs["lineitem"], orderkey, partkey)
    src, dst = reference.copurchase(orderkey, partkey)
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    relabel = np.random.default_rng(seed).permutation(len(ids)).astype("int64")[inv]
    edges = pd.DataFrame({"src": relabel[: len(src)], "dst": relabel[len(src):]})
    b.refs["base"] = b.spark.createDataFrame(
        edges, schema="src long, dst long").localCheckpoint(eager=True)


def suite_run(b: Bench, sizes: Sizes) -> Run:
    from okapi_spark import Graph
    from okapi_spark.bsp import CheckpointStore
    from okapi_spark.operators.components import connected_components
    from okapi_spark.operators.lpa import label_propagation
    from okapi_spark.operators.pagerank import pagerank
    from okapi_spark.operators.triangles import triangle_count

    run = Run()
    c0 = tracing.cpu_times()
    with b.segment(run, "graph.from_edges"):
        g = Graph.from_edges(b.refs["base"], symmetric_distinct=True)
        g.num_edges()
    suite = (
        ("pagerank_csr", lambda: pagerank(g, mode="csr", tol=PR_TOL)),
        ("components", lambda: connected_components(g)),
        ("lpa", lambda: label_propagation(g, iterations=4)),
        ("triangles", lambda: triangle_count(g)),
    )
    for op, fn in suite:
        b.call(run, op, "cold", fn)
        b.call(run, op, "warm", fn)
    run.staged = b.staged()
    # checkpointed csr PageRank over the layouts the calls above staged:
    # a first call, then one that resumes from its store
    root = os.path.join(b.work, "ckpt")
    shutil.rmtree(root, ignore_errors=True)
    store = CheckpointStore(root)
    b.call(run, "pagerank_ckpt", "cold", lambda: pagerank(
        g, mode="csr", iterations=sizes.ckpt_first, store=store))
    b.call(run, "pagerank_ckpt", "warm", lambda: pagerank(
        g, mode="csr", iterations=sizes.ckpt_total, store=store))
    run.ckpt_bytes = tracing.du(root)[0]
    run.ckpt_entries = len(store.lineage())
    run.n_edges, run.n_vertices = g.num_edges(), g.num_vertices()
    if "pr" not in b.refs:
        src, dst = b.edge_refs(g)
        b.refs["lpa"] = reference.label_propagation(src, dst, iterations=4)
        b.refs["pr_first"] = reference.pagerank(
            src, dst, tol=None, iterations=sizes.ckpt_first)[:2]
        uninterrupted = pagerank(g, mode="csr", iterations=sizes.ckpt_total)
        b.refs["pr_resumed"] = b.collect(uninterrupted.state, "rank")
        b.refs["triangles"] = reference.triangle_total(
            b.repo_root, b.refs["lineitem"], b.cores)
    b.check(run, "pagerank_ckpt", "cold", lambda r: b.ranks_match(r, "pr_first", 1e-9))
    b.check(run, "pagerank_ckpt", "warm",
            lambda r: b.ranks_match(r, "pr_resumed", 1e-12))
    for phase in ("cold", "warm"):
        b.check(run, "pagerank_csr", phase, lambda r: b.ranks_match(r, "pr", PR_TOL))
        b.check(run, "components", phase, b.comps_match)
        b.check(run, "lpa", phase, lambda r: _labels_match(b, r))
        b.check(run, "triangles", phase, lambda n: n == b.refs["triangles"])
    b.release_check(run, g)
    shutil.rmtree(root, ignore_errors=True)
    run.box = tracing.cpu_delta(c0, tracing.cpu_times())
    return run


def _labels_match(b: Bench, res) -> bool:
    ids, labels = b.collect(res.state, "lbl")
    rid, rlabels = b.refs["lpa"]
    return np.array_equal(ids, rid) and np.array_equal(labels, rlabels)


WORKLOADS = {
    "flagship": (flagship_setup, flagship_run),
    "operator_suite": (suite_setup, suite_run),
}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def pagerank_rate(run: Run, cpu: bool) -> float:
    """Σ(|E|·supersteps executed) ÷ Σ wall (or CPU) seconds over the
    run's PageRank calls."""
    work = secs = 0.0
    for c in run.calls:
        if c.op.startswith("pagerank") and c.ok:
            work += run.n_edges * len(new_supersteps(c.result))
            secs += c.span.cpu_s if cpu else c.span.wall_s
    return work / secs if secs else 0.0


def end_to_end(runs: list[Run], setup_s: float, peak_rss_mb: float) -> dict:
    med = statistics.median
    return {
        "setup_s": setup_s,
        "run_cpu_s": med(r.cpu_s for r in runs),
        "peak_rss_mb": peak_rss_mb,
    }


def _seg(run: Run, name: str) -> float:
    sp = run.segments.get(name)
    return sp.wall_s if sp else 0.0


def per_layer(b: Bench, traced: Run, start_s: float, setup_wall_s: float) -> dict:
    out = {name: 0.0 for name, _ in LAYER_METRICS}
    out["session.start_s"] = start_s
    out["setup_wall_s"] = setup_wall_s
    out["sources.generate_s"] = _seg(traced, "sources.generate")
    induce = traced.segments.get("graph.induce")
    if induce is not None:
        out["graph.induce_s"] = induce.wall_s
        out["graph.induce_jobs"] = induce.jobs
        out["graph.induce_shuffle_bytes"] = induce.shuffle_bytes
    out["graph.from_edges_s"] = _seg(traced, "graph.from_edges")
    out["graph.decode_s"] = _seg(traced, "decode.once")
    out["graph.edges"] = traced.n_edges
    out["graph.vertices"] = traced.n_vertices
    for op in OPS:
        calls = traced.op_calls(op)
        if not calls:
            continue
        cold = next(c for c in calls if c.phase == "cold")
        warm = next((c for c in calls if c.phase == "warm"), None)
        main = warm or cold  # the repeat call when there is one
        out[f"{op}.cold_s"] = cold.span.wall_s
        if warm is not None:
            out[f"{op}.warm_s"] = warm.span.wall_s
            out[f"{op}.layout_s"] = cold.span.wall_s - warm.span.wall_s
        sp = main.span
        out[f"{op}.jobs"] = sp.jobs
        out[f"{op}.tasks"] = sp.tasks
        res = main.result
        if hasattr(res, "metrics_log"):
            steps = new_supersteps(res)
            out[f"{op}.supersteps"] = res.supersteps
            if steps:
                out[f"{op}.superstep_s"] = statistics.median(m["superstep_sec"] for m in steps)
        out[f"{op}.busy_frac"] = sp.run_ms / 1000.0 / (sp.wall_s * b.cores)
        out[f"{op}.shuffle_bytes"] = sp.shuffle_bytes
        out[f"{op}.gc_s"] = sp.gc_ms / 1000.0
    out["plans.staged_bytes"], out["plans.staged_files"] = traced.staged
    out["bsp.checkpoint_bytes"] = traced.ckpt_bytes
    out["bsp.checkpoints"] = traced.ckpt_entries
    resumed = [c for c in traced.op_calls("pagerank_ckpt") if c.phase == "warm" and c.ok]
    if resumed:
        c = resumed[0]
        steps = new_supersteps(c.result)
        out["bsp.resume_s"] = c.span.wall_s - sum(m["superstep_sec"] for m in steps)
        out["bsp.jobs_per_superstep"] = c.span.jobs / max(1, len(steps))
    out["box.sys_pct"] = traced.box["sys_pct"]
    out["box.iowait_pct"] = traced.box["iowait_pct"]
    out["box.steal_pct"] = traced.box["steal_pct"]
    out["box.loadavg_1m"] = tracing.loadavg_1m()
    out["run_s"] = traced.wall_s
    out["cold_s"] = traced.phase_s("cold")
    out["warm_s"] = traced.phase_s("warm")
    out["cold_cpu_s"] = traced.phase_s("cold", cpu=True)
    out["warm_cpu_s"] = traced.phase_s("warm", cpu=True)
    out["edges_per_s"] = pagerank_rate(traced, cpu=False)
    out["edges_per_cpu_s"] = pagerank_rate(traced, cpu=True)
    out["trace_overhead_frac"] = b.tracer.overhead_s / traced.wall_s
    out["error_rate"] = traced.failed() / traced.attempted()
    return out
