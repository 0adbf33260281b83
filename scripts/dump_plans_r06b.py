"""Dump .explain("formatted") for the round-6 LPA / connected-components
changes (supplement to dump_plans_r06.py — that script reconstructs the
pagerank/triangle shapes; this one covers the two other bench queries
whose default plan changed to the fused staged-kernel loop).

Usage: python scripts/dump_plans_r06b.py   (writes both before+after)
Writes plans/r06/{lpa_4,connected_components}_{before,after}.txt.
Run from the repo root.

"before" = the sql broadcast-state superstep plan, which is exactly what
the pre-round-6 default executed per round (the mode="sql" path is
unchanged this round — it is still what cluster-scale shapes run).
"after" = the fused loop's ONE job per operator call (pid_frame →
mapInPandas), same shape as plans/r06/pagerank_csr_fused_job_after.txt.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


FUSED_HEADER = """\
# The fused csr loop's ONE Spark job per {op}() call (round 6): a P-row
# Range sliced to a single task feeding mapInPandas — no Exchange, no
# join, no edge scan; the kernel reads the memoized staged blocks from
# the OS page cache, iterates every round locally, and returns the
# packed final state + per-round metrics. Before round 6 EVERY round
# paid the {njobs} jobs of the *_before.txt plan. (Kernel body elided;
# shape identical.)
"""


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join("plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    from okapi_spark.graph.induce import copurchase_edges
    from okapi_spark.plans import scatter
    from okapi_spark.plans.csr_blocks import pid_frame
    from okapi_spark.session import get_spark

    spark = get_spark(app_name="dump_plans_r06b")
    P = spark.sparkContext.defaultParallelism
    g = copurchase_edges(spark, sf_dir)

    def put(name: str, text: str) -> None:
        path = os.path.join(outdir, name)
        with open(path, "w") as f:
            f.write(text)
        print("wrote", path)

    vertices = g.vertices_by_id(P)
    n = vertices.count()

    # ---- connected_components: sql broadcast superstep (before) -------
    # the operators' broadcast-mode scatter layout of the (src, dst, w)
    # frame (plans/scatter.py), hash-partitioned by dst and cached
    w_edges = scatter.plan(
        g, "w", lambda: g.edges.select("src", "dst", F.col("weight").alias("w")), P, True
    ).edges
    edges = w_edges.select("src", "dst")
    state = vertices.select(
        "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
    )
    frontier = F.broadcast(
        state.filter("changed").select(F.col("id").alias("src"), "comp")
    )
    msgs = (
        edges.join(frontier, "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("comp").alias("cand"))
    )
    new_state = state.join(msgs, "id", "left").select(
        "id",
        F.least("comp", F.coalesce("cand", "comp")).alias("comp"),
        (F.coalesce("cand", "comp") < F.col("comp")).alias("changed"),
    )
    put(
        "connected_components_before.txt",
        "# One HashMin superstep of the pre-round-6 default (sql broadcast\n"
        "# plan; still the mode='sql' / cluster-scale path): this plan plus\n"
        "# a changed-count action plus a localCheckpoint cache fill ran\n"
        "# PER ROUND until the frontier emptied.\n" + grab(new_state),
    )

    def dummy_cc(pdf_iter):  # plan-shape stand-in for the fused kernel
        for pdf in pdf_iter:
            yield pdf

    put(
        "connected_components_after.txt",
        FUSED_HEADER.format(op="connected_components", njobs="3 per-round")
        + grab(
            pid_frame(spark, P, 1).mapInPandas(
                dummy_cc, schema="comp binary, metrics binary"
            )
        ),
    )

    # ---- lpa_4: sql broadcast round (before) --------------------------
    lstate = vertices.select("id", F.col("id").alias("lbl"))
    lbls = F.broadcast(lstate.select(F.col("id").alias("src"), "lbl"))
    lmsgs = (
        w_edges.join(lbls, "src")
        .groupBy(F.col("dst").alias("id"), "lbl")
        .agg(F.sum("w").alias("w"))
    )
    argmax = (
        lmsgs.groupBy("id")
        .agg(F.max(F.struct(F.col("w"), (-F.col("lbl")).alias("neg"))).alias("m"))
        .select("id", (-F.col("m.neg")).alias("new_lbl"))
    )
    new_lstate = lstate.join(argmax, "id", "left").select(
        "id", F.coalesce("new_lbl", "lbl").alias("lbl")
    )
    put(
        "lpa_4_before.txt",
        "# One LPA round of the pre-round-6 default (sql broadcast plan;\n"
        "# still the mode='sql' / cluster-scale path): this plan plus a\n"
        "# localCheckpoint cache fill ran PER ROUND (4 rounds for lpa_4).\n"
        + grab(new_lstate),
    )
    put(
        "lpa_4_after.txt",
        FUSED_HEADER.format(op="label_propagation", njobs="2 per-round")
        + grab(
            pid_frame(spark, P, 1).mapInPandas(
                dummy_cc, schema="labels binary, metrics binary"
            )
        ),
    )

    spark.stop()


if __name__ == "__main__":
    main()
