"""Explicit salted-key skew handling (north rule: "explicit salted-key
repartitioning for high-degree skew").

AQE's skew-join splitting covers sort-merge joins; these helpers cover
the two places AQE can't: aggregations keyed on hub vertices, and
broadcast-ineligible joins against a hub-keyed side. Pattern: explode
the hub side over ``salt`` shards + two-level aggregation (partial per
(key, salt), final per key) — the Giraph-era equivalent was Spinner's
prefix-hash partitioner spreading hot vertices
(spinner/PrefixHashPartitionerFactory.java:32-58). The iterative
operators' degree-proportional salted edge layout lives with the rest
of their sql message plan in plans/scatter.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(salts: int, *cols: str) -> Column:
    """Deterministic per-row salt in [0, salts) derived from row content
    — partitioning-independent, no RNG state."""
    return F.pmod(F.xxhash64(*cols, F.lit("salt")), F.lit(salts)).cast("int")


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, str],
    salts: int = 16,
) -> DataFrame:
    """Two-level aggregation for skewed keys: groupBy(key, salt) partial
    then groupBy(key) final. ``aggs``: {column: fn} with fn in
    sum/min/max/count (the decomposable ones)."""
    salted = df.withColumn("__salt", salt_column(salts, *[c for c in df.columns if c != key][:2] or [key]))
    partial_exprs, final_exprs = [], []
    for col, fn in aggs.items():
        out = f"{col}_{fn}"
        if fn == "count":
            partial_exprs.append(F.count("*").alias(out))
            final_exprs.append(F.sum(out).alias(out))
        elif fn in ("sum", "min", "max"):
            partial_exprs.append(getattr(F, fn)(col).alias(out))
            final_exprs.append(getattr(F, fn)(out).alias(out))
        else:
            raise ValueError(f"non-decomposable agg: {fn}")
    partial = salted.groupBy(key, "__salt").agg(*partial_exprs)
    return partial.groupBy(key).agg(*final_exprs)


def hub_split(
    edges: DataFrame,
    degree_threshold: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """Split an edge set into (hub_edges, tail_edges) by src degree —
    the census-driven routing used to give hub vertices their own
    plan (broadcast/salted) while the tail takes the default path."""
    deg = edges.groupBy("src").agg(F.count("*").alias("__d"))
    hubs = F.broadcast(deg.filter(F.col("__d") > degree_threshold).select("src"))
    hub_edges = edges.join(hubs, "src", "left_semi")
    tail_edges = edges.join(hubs, "src", "left_anti")
    return hub_edges, tail_edges
