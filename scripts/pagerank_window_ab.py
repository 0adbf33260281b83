"""Cold ``pagerank(tol=1e-6)``: mode="sql" vs mode="csr" across the csr
fuse window, in one Spark session.

For each edge count a synthetic power-law graph (sources/synth_graph.py,
|V| = |E|/8) is materialized once, untimed. Each mode then gets a fresh
Graph over it, so the timed call builds every layout it uses, as the
first call of a pipeline does. The two modes alternate which runs first.
Prints one JSON line per (size, mode): wall and process-tree CPU seconds,
Spark jobs, supersteps, and the max |Δrank| between the two modes.

Run from the repository root:
    python scripts/pagerank_window_ab.py [n_edges,...]
"""

from __future__ import annotations

import json
import sys
import time
import uuid

sys.path.insert(0, ".")

from okapi_spark.graph.graph import Graph  # noqa: E402
from okapi_spark.operators.pagerank import pagerank  # noqa: E402
from okapi_spark.session import get_spark  # noqa: E402
from okapi_spark.sources.synth_graph import generate_edges  # noqa: E402
from perfbench.tracing import tree_cpu_s  # noqa: E402


def main() -> None:
    sizes = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else
                              "100000,1000000,4000000,8000000").split(",")]
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
