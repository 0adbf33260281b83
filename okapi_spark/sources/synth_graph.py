"""Direct deterministic synthetic edge generator for scale benches.

Power-law-ish directed multigraph: src drawn Zipf(alpha) (hub skew),
dst uniform, both hash-derived from the row index — fully distributed,
partitioning-independent, no Python row path. Used where building the
graph through the corpus→induction pipeline would dominate the bench.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from okapi_spark.hashing import hash_uniform


def generate_edges(
    spark: SparkSession,
    n_edges: int,
    n_vertices: int,
    zipf_alpha: float = 1.6,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    base = spark.range(0, n_edges, 1, partitions)
    u_src = (F.pmod(F.xxhash64("id", F.lit(f"src:{seed}")), F.lit(10**9)).cast("double") + 1.0) / 1e9
    src = F.least(
        F.floor(F.pow(u_src, F.lit(-1.0 / (zipf_alpha - 1.0)))) - 1, F.lit(n_vertices - 1)
    ).cast("long")
    dst = F.pmod(F.xxhash64("id", F.lit(f"dst:{seed}")), F.lit(n_vertices)).cast("long")
    e = base.select(src.alias("src"), dst.alias("dst"), F.lit(1.0).alias("weight"))
    return e.filter(F.col("src") != F.col("dst"))


def watts_strogatz(
    spark: SparkSession,
    n_vertices: int,
    edges_per_vertex: int = 4,
    beta: float = 0.2,
    seed: int = 42,
    trust_probability: float = 0.2,
    partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Watts-Strogatz small-world graph with SybilRank trust labeling —
    graphs/SybilRankWattsStrogatzVertexInputFormat.java:56-230 (the
    reference's only synthetic generator; wattsStrogatz.{beta,
    edgesPerVertex, seed, sybilrank.trust.probability} knobs).

    Returns ``(edges(src, dst, weight), labels(id, is_trusted))``.

    Ring lattice: vertex i links to i+1 … i+edgesPerVertex (mod n); each
    edge is re-wired with probability ``beta`` to a uniform non-self
    target. Fully distributed and hash-derived (the reference's
    per-split Random with a per-vertex seed, :117-143, made
    partitioning-independent): no driver-side generation, no Python row
    path. Deviation: the reference redraws re-wired targets until they
    miss the vertex's existing out-edge set (:150-163); we drop the
    rare duplicate instead (distinct), which at beta·k/n collision odds
    is a vanishing edge-count difference.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    base = spark.range(0, n_vertices, 1, partitions)
    offs = base.select(
        F.col("id").alias("src"),
        F.explode(F.sequence(F.lit(1), F.lit(edges_per_vertex))).alias("off"),
    )
    ring_dst = F.pmod(F.col("src") + F.col("off"), F.lit(n_vertices))
    u = hash_uniform("src", "off", F.lit(f"rewire:{seed}"))
    # uniform over [0, n) \ {src}: draw in [0, n-1), shift past src
    rnd = F.pmod(F.xxhash64("src", "off", F.lit(f"target:{seed}")), F.lit(n_vertices - 1))
    rnd_dst = rnd + F.when(rnd >= F.col("src"), F.lit(1)).otherwise(F.lit(0))
    edges = (
        offs.select(
            "src",
            F.when(u < F.lit(float(beta)), rnd_dst).otherwise(ring_dst).cast("long").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
        .distinct()
    )
    ut = hash_uniform("id", F.lit(f"trust:{seed}"))
    labels = base.select("id", (ut < F.lit(float(trust_probability))).alias("is_trusted"))
    return edges, labels
