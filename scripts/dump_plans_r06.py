"""Dump .explain("formatted") for the round-6 optimization targets.

Usage: python scripts/dump_plans_r06.py <suffix>   (suffix = before|after)
Writes plans/r06/<query>_<suffix>.txt. Run from the repo root.
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


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join("plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    from okapi_spark.graph.induce import copurchase_edges
    from okapi_spark.session import get_spark

    spark = get_spark(app_name="dump_plans_r06")
    g = copurchase_edges(spark, sf_dir)
    g.num_edges()

    def put(name: str, text: str) -> None:
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print("wrote", path)

    # ---- triangle_count (sql): the full triangle plan -----------------
    from okapi_spark.operators.triangles import _triangles_plan

    put("triangle_count", grab(_triangles_plan(g).groupBy().count()))

    # ---- pagerank sql broadcast-state: one superstep's plan -----------
    # (reproduces pagerank() mode='sql' state_broadcast=True internals)
    P = spark.sparkContext.defaultParallelism
    vertices = g.vertices().repartition(P, "id")
    n = vertices.count()
    degw = g.edges.groupBy("src").agg(
        F.count("*").alias("out_deg"), F.sum("weight").alias("wsum")
    )
    shares = g.edges.join(degw, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("share")
    )
    put("pagerank_shares_setup", grab(shares.repartition(P, "dst")))
    shares_c = shares.repartition(P, "dst").persist()
    shares_c.count()
    state = vertices.select("id", F.lit(1.0 / n).alias("rank"))
    ranks = F.broadcast(state.select("id", "rank").withColumnRenamed("id", "src"))
    msgs = (
        shares_c.join(ranks, "src")
        .select("dst", (F.col("rank") * F.col("share")).alias("m"))
        .groupBy("dst")
        .agg(F.sum("m").alias("msum"))
    )
    new_state = state.join(msgs, state["id"] == msgs["dst"], "left").select(
        state["id"],
        (F.lit(0.15 / n) + F.lit(0.85) * F.coalesce(F.col("msum"), F.lit(0.0))).alias("rank"),
    )
    put("pagerank_sql_superstep", grab(new_state))
    shares_c.unpersist()

    # ---- pagerank csr: staging exchange + superstep job ---------------
    shares_by_pid = (
        shares.select("src", "dst", "share")
        .withColumn("pid", F.pmod(F.xxhash64("dst"), F.lit(P)).cast("int"))
        .repartition(P, "pid")
    )
    put("pagerank_csr_staging", grab(shares_by_pid))
    from okapi_spark.operators.pagerank import pagerank

    res = pagerank(g, iterations=1, mode="csr")
    put("pagerank_csr_state", grab(res.state))

    # ---- triangle csr staging exchange --------------------------------
    from okapi_spark.operators import triangles as trimod

    phases_doc = []
    import time

    t0 = time.time()
    ntri, phases = trimod._triangle_count_csr(g)
    phases_doc.append(f"# _triangle_count_csr n={ntri} phases={phases} wall={time.time()-t0:.2f}s\n")
    put("triangle_csr_phases", "".join(phases_doc))

    spark.stop()


if __name__ == "__main__":
    main()
