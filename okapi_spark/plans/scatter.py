"""One sql message plan for every sql fixpoint: broadcast or salted.

PageRank, SybilRank, connected components and LPA run ``mode="sql"``
as the same superstep: join the vertex state into a cached edge layout
on ``src``, aggregate the messages by ``dst``, fold them into the
state. This module owns the physical half of that plan — the layout,
the join and the loop — so each operator supplies only its per-vertex
semantics, the sql mirror of its csr ``Fixpoint``
(plans/csr_fixpoint.py). The join strategy is a plan parameter, not
per-operator code (*Pregelix*, VLDB 2014).

``broadcast`` (the operator's byte-gated ``state_broadcast``) picks
one of two layouts of the operator's edge frame:

* **broadcast** — the frame hash-partitioned by dst and cached. The
  |V|-row state is broadcast into the src join, so ``groupBy(dst)``
  is partition-complete: ZERO shuffle exchanges per superstep, and no
  per-task O(|V|) partial-agg hash maps (measured to anti-scale with
  task count; the dst layout was 7× faster at 32 cores on 30M edges).
  AQE has nothing to improve on that plan but costs planning time per
  job, so the loop runs under ``no_adaptive``.
* **salted** — the cluster-scale fallback. Hash-partitioning a
  power-law edge set by raw src puts a hub's whole edge list in ONE
  task, so each src gets ``nsalt`` shards (``shard_count_expr``, from
  the memoized degree census) with its rows spread by hash(dst), cached
  by (src, salt). Per superstep each vertex's state row explodes over
  its own ``nsalt`` (``explode_shards``) and shuffles into the
  co-partitioned (src, salt) join — only the ~|V|-row exploded state
  moves; ``shuffle_hash`` builds on it and streams the edges (a
  SortMergeJoin would re-sort the edge set every superstep). A small
  state (CC's shrinking frontier) can still ask ``join`` for a
  broadcast. The state carries ``nsalt`` from round 0; it depends on
  the current run's P and |E|, so a checkpoint resume re-derives it.

Each layout is memoized on the Graph (``Graph.derived``) by (frame
name, P, broadcast), like ``csr_fixpoint.stage``, so repeated calls
share it and ``Graph.unpersist()`` releases it.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.bsp import BSPResult, CheckpointStore, no_adaptive, run_supersteps


def shard_count_expr(
    deg_col: Column | str,
    num_partitions: int,
    n_edges: int,
    target_min: int = 1024,
    cap_factor: int = 4,
) -> Column:
    """Per-vertex salt shard count of the salted layout: nsalt =
    clamp(1, cap_factor·P, ceil(out_deg/target)) with target =
    max(target_min, |E|/(8P)). Sharding each hub over nsalt (src, salt)
    keys rebalances the skew-bound join (BENCH.md round-2
    shuffle-fallback analysis: 14.5s → 2.9s/superstep; raw src
    partitioning measured flat from 8 to 32 cores)."""
    target = max(target_min, n_edges // (num_partitions * 8))
    deg = F.col(deg_col) if isinstance(deg_col, str) else deg_col
    return F.greatest(
        F.lit(1),
        F.least(F.lit(cap_factor * num_partitions), F.ceil(deg / F.lit(target))),
    ).cast("int")


def explode_shards(state: DataFrame, id_as: str, *carry: str | Column) -> DataFrame:
    """Explode a per-vertex state row over its own ``nsalt`` shard
    count → (id_as, *carry, salt). Tail vertices stay 1 row, hubs get
    a few — the exploded state is ~|V| + a handful of hub rows, so
    only that small side shuffles into the (src, salt) edge join."""
    return state.select(
        F.col("id").alias(id_as), *carry,
        F.explode(F.sequence(F.lit(0), F.col("nsalt") - 1)).alias("salt"),
    )


def zero_exchange_loop(spark, zero_exchange: bool):
    """The context a superstep loop runs in: AQE off when its plan has
    no shuffle exchange to re-optimize (bsp.no_adaptive), else as is."""
    return no_adaptive(spark) if zero_exchange else nullcontext()


@dataclass
class Scatter:
    edges: DataFrame  # the cached layout: frame columns (+ salt)
    broadcast: bool
    shards: DataFrame | None  # (id, nsalt) in salted mode
    nsalt: Callable[[str], Column] | None  # nsalt of an out-degree column (salted mode)

    def join(self, state: DataFrame, *carry: str | Column, broadcast: bool = False) -> DataFrame:
        """Edges ⋈ state on src: each edge row gains its src's ``carry``
        columns. ``broadcast`` asks for a broadcast join of a small
        state in salted mode too (the salt column is then unused)."""
        if self.broadcast or broadcast:
            return self.edges.join(F.broadcast(state.select(F.col("id").alias("src"), *carry)), "src")
        return self.edges.join(explode_shards(state, "src", *carry).hint("shuffle_hash"), ["src", "salt"])

    def update(self, state: DataFrame, msgs: DataFrame, *cols: str | Column) -> DataFrame:
        """The next state: ``state`` left-joined with the per-vertex
        ``msgs`` on id, projected to ``cols`` (+ the carried nsalt)."""
        return state.join(msgs, "id", "left").select(*cols, *([] if self.broadcast else ["nsalt"]))

    def with_shards(self, df: DataFrame, deg: str | None = None) -> DataFrame:
        """``df`` (id, ...) plus each vertex's shard count (salted mode).
        A ``df`` that carries its out-degree column ``deg`` derives it
        in place: the census lookup is a left join, and Spark estimates
        a join's size as the product of its sides, which costs every
        later join on the state its broadcast."""
        if deg is not None:
            return df.withColumn("nsalt", self.nsalt(deg))
        return df.join(self.shards, "id", "left").select(
            *df.columns, F.coalesce("nsalt", F.lit(1)).alias("nsalt")
        )

    def run(self, state0: DataFrame, superstep, max_supersteps: int,
            halt_fn: Callable | None = None, store: CheckpointStore | None = None) -> BSPResult:
        """``run_supersteps`` over this layout: salted mode adds nsalt
        to ``state0`` and re-derives it on resume (a crashed run at
        another P has other shard counts: edges with salt ≥ a stale
        nsalt would match no state row and drop their messages)."""
        restore_fn = None
        if not self.broadcast:
            state0 = self.with_shards(state0)

            def restore_fn(df: DataFrame) -> DataFrame:
                return self.with_shards(df.drop("nsalt"))

        with zero_exchange_loop(state0.sparkSession, self.broadcast):
            res = run_supersteps(state0, superstep, max_supersteps=max_supersteps,
                                 halt_fn=halt_fn, store=store, restore_fn=restore_fn)
        res.state = res.state.drop("nsalt")
        return res


def plan(graph, name: str, frame: Callable[[], DataFrame], P: int, broadcast: bool) -> Scatter:
    """The scatter plan of ``frame()`` (src, dst, <value cols>) over P
    partitions; its layout is built and materialized once per (Graph,
    name, P, broadcast)."""
    shards = shard_expr = None
    if not broadcast:
        n_edges = graph.num_edges()

        def shard_expr(deg: str) -> Column:
            return shard_count_expr(deg, P, n_edges)

        nsalt = shard_expr("out_deg")
        census = graph.degree_weights()
        shards = census.select(F.col("src").alias("id"), nsalt.alias("nsalt"))

    def build() -> DataFrame:
        if broadcast:
            df = frame().repartition(P, "dst")
        else:
            f = frame()
            df = (
                f.join(census.select("src", "out_deg"), "src")
                .select(*f.columns, F.pmod(F.xxhash64("dst"), nsalt).cast("int").alias("salt"))
                .repartition(P, "src", "salt")
            )
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        # AQE off for the one-time cache fill: the explicit
        # repartition(P) leaves it nothing to improve, and Spark 4.1.2's
        # TableCacheQueryStageExec occasionally dies in
        # CacheManager.recacheByPlan ("SparkPlan.session() is null")
        # while adaptively materializing a fresh cache of this shape
        with no_adaptive(graph.edges.sparkSession):
            df.count()
        return df

    return Scatter(graph.derived(("scatter", name, P, broadcast), build), broadcast, shards, shard_expr)
