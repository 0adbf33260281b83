"""Cold ``pagerank(tol=1e-6)`` across the csr fuse window, two A/Bs.

``modes`` (default): mode="sql" vs mode="csr", in one Spark session.
For each edge count a synthetic power-law graph (sources/synth_graph.py,
|V| = |E|/8) is materialized once, untimed. Each mode then gets a fresh
Graph over it, so the timed call builds every layout it uses, as the
first call of a pipeline does. The two modes alternate which runs first.
Prints one JSON line per (size, mode): wall and process-tree CPU seconds,
Spark jobs, supersteps, and the max |Δrank| between the two modes.

``placement``: mode="csr" in its local placement (every round in the
driver) vs its staged per-round placement (fuse window patched to 0),
each (size, placement) in a FRESH process so that the process peak
resident sizes (VmHWM of the Python driver and of its JVM) belong to
that one call. Prints one JSON line per run, plus the max |Δrank|
between the placements per size (0.0: bit-identical).

Run from the repository root:
    python scripts/pagerank_window_ab.py [n_edges,...]
    python scripts/pagerank_window_ab.py placement [n_edges,...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from okapi_spark.graph.graph import Graph  # noqa: E402
from okapi_spark.operators.pagerank import pagerank  # noqa: E402
from okapi_spark.session import get_spark  # noqa: E402
from okapi_spark.sources.synth_graph import generate_edges  # noqa: E402
from perfbench.tracing import tree_cpu_s  # noqa: E402


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _one_placement(n_edges: int, placement: str, out: str) -> None:
    """One cold csr PageRank in this process; ranks saved to ``out``."""
    import numpy as np

    from okapi_spark.plans import csr_fixpoint as fx

    if placement == "staged":
        fx._FUSE_MAX_EDGES = 0
    spark = get_spark(app_name="pagerank_window_ab")
    sc = spark.sparkContext
    base = generate_edges(spark, n_edges, max(2, n_edges // 8)).localCheckpoint(eager=True)
    g = Graph.from_edges(base)
    g.num_edges()  # the edge cache fill is input, not PageRank
    group = f"ab-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    c0, t0 = tree_cpu_s(), time.time()
    res = pagerank(g, tol=1e-6, mode="csr")
    pdf = res.state.toPandas()
    wall, cpu = time.time() - t0, tree_cpu_s() - c0
    sc.setLocalProperty("spark.jobGroup.id", None)
    jvm = sc._jvm.java.lang.ProcessHandle.current().pid()
    print(json.dumps({
        "edges": g.num_edges(), "vertices": g.num_vertices(), "placement": res.plan["placement"],
        "wall_s": round(wall, 2), "cpu_s": round(cpu, 2),
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "supersteps": res.supersteps, "converged": res.converged,
        "py_hwm_mb": round(_vm_hwm_mb(os.getpid())), "jvm_hwm_mb": round(_vm_hwm_mb(jvm)),
    }), flush=True)
    pdf = pdf.sort_values("id")
    np.save(out, pdf["rank"].to_numpy())
    spark.stop()


def placements(sizes: list[int]) -> None:
    import subprocess
    import tempfile

    import numpy as np

    with tempfile.TemporaryDirectory() as tmp:
        for i, n_edges in enumerate(sizes):
            order = ("local", "staged") if i % 2 == 0 else ("staged", "local")
            for placement in order:
                subprocess.run([sys.executable, __file__, "_one", str(n_edges), placement,
                                os.path.join(tmp, f"{placement}.npy")], check=True)
            a, b = (np.load(os.path.join(tmp, f"{p}.npy")) for p in ("local", "staged"))
            diff = float(np.abs(a - b).max()) if len(a) else 0.0
            print(json.dumps({"edges": n_edges, "max_abs_rank_diff": diff}), flush=True)


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["_one"]:
        _one_placement(int(args[1]), args[2], args[3])
        return
    placement = args[:1] == ["placement"]
    if placement:
        args = args[1:]
    sizes = [int(x) for x in (args[0] if args else "100000,1000000,4000000,8000000").split(",")]
    if placement:
        placements(sizes)
        return
    spark = get_spark(app_name="pagerank_window_ab")
    sc = spark.sparkContext
    for i, n_edges in enumerate(sizes):
        base = generate_edges(spark, n_edges, max(2, n_edges // 8)).localCheckpoint(eager=True)
        ranks = {}
        for mode in (("sql", "csr") if i % 2 == 0 else ("csr", "sql")):
            g = Graph.from_edges(base)
            g.num_edges()  # the edge cache fill is input, not PageRank
            group = f"ab-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            c0, t0 = tree_cpu_s(), time.time()
            res = pagerank(g, tol=1e-6, mode=mode)
            pdf = res.state.toPandas()
            wall, cpu = time.time() - t0, tree_cpu_s() - c0
            sc.setLocalProperty("spark.jobGroup.id", None)
            ranks[mode] = pdf.set_index("id")["rank"].sort_index()
            print(json.dumps({
                "edges": g.num_edges(), "vertices": g.num_vertices(), "mode": mode,
                "wall_s": round(wall, 2), "cpu_s": round(cpu, 2),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "supersteps": res.supersteps, "converged": res.converged,
            }), flush=True)
            g.unpersist()
        diff = (ranks["sql"] - ranks["csr"]).abs().max()
        print(json.dumps({"edges": n_edges, "max_abs_rank_diff": float(diff)}), flush=True)
        base.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
