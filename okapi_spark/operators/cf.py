"""Collaborative filtering — ALS, SGD, and ranking evaluation.

Reference model (cf/*): a bipartite user/item graph with rating edges,
typed vertex ids CfLongId{type, id} (cf/CfLongId.java:29-53). Here the
model is the natural relational one: ``ratings(user, item, rating)``
plus factor tables ``(id, factors array<double>)`` per side — the typed
id becomes which table/column a row lives in.

* **ALS** (cf/als/Als.java:51-285): per vertex solve
  ``(M·Mᵀ + λ·N·I) u = M·R`` where M stacks the counterpart factor
  vectors and R the ratings (updateValue :140-151; golden test
  cf/als/AlsTest.java:32-63 reproduced in tests). Alternation
  user-side/item-side per superstep; RMSE aggregator; halt on
  ``rmse < target`` or iteration budget (:242-283).
* **SGD** (cf/sgd/Sgd.java:45-328): per message
  ``v ← v − γ(λv + err·u)``, err from the CLIPPED prediction
  (:180-199); defaults γ=0.005, λ=0.01, 10 iterations, rating
  bounds [0,5] (:51-79). The reference applies messages in arrival
  order (nondeterministic under Giraph); we sort by counterpart id
  for reproducibility and document the divergence.
* **Ranking eval** (cf/eval/RankEvaluationComputation.java:43-172):
  Precision@k with ``numberSamples`` sampled irrelevant items (100)
  and k=5 — windows + hash-seeded negative sampling.

Factor init: the reference uses an UNSEEDED ``0.01·Random()``
(Als.java:169-172); we use hash-derived uniforms in [0, 0.01) so runs
are deterministic and partitioning-independent (SURVEY.md §4.2.6).

Physical plan: the per-vertex solve/update runs in ``applyInPandas``
grouped by the updating side — each group is one vertex's ratings
joined with counterpart factors; NumPy solves the dense system.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.hashing import hash_uniform


def _init_factors(ids: DataFrame, id_col: str, vector_size: int, seed: int, salt: str) -> DataFrame:
    cols = [
        (hash_uniform(F.col(id_col), F.lit(f"{salt}:{i}"), F.lit(seed)) * 0.01).alias(f"f{i}")
        for i in range(vector_size)
    ]
    return ids.select(id_col, F.array(*cols).alias("factors"))


def _solve_side(
    ratings: DataFrame,
    counterpart_factors: DataFrame,
    group_col: str,
    other_col: str,
    lambda_: float,
    vector_size: int,
) -> DataFrame:
    """ALS half-step: re-solve ``group_col``-side factors from fixed
    counterpart factors. Returns (group_col, factors)."""
    joined = ratings.join(
        counterpart_factors.withColumnRenamed("id", other_col).withColumnRenamed("factors", "cf"),
        other_col,
    ).select(F.col(group_col).alias("gid"), "rating", "cf")

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack(pdf["cf"].to_numpy())  # n × f (rows = counterpart vectors)
        R = pdf["rating"].to_numpy().astype(np.float64)
        n = len(R)
        A = M.T @ M + lambda_ * n * np.eye(vector_size)
        V = M.T @ R
        u = np.linalg.solve(A, V)
        return pd.DataFrame({"id": [pdf["gid"].iloc[0]], "factors": [list(u)]})

    return joined.groupBy("gid").applyInPandas(solve, schema="id long, factors array<double>")


def _rmse(ratings: DataFrame, uf: DataFrame, itf: DataFrame,
          clip: tuple[float, float] | None = None) -> float:
    pred = (
        ratings.join(uf.withColumnRenamed("id", "user").withColumnRenamed("factors", "ufac"), "user")
        .join(itf.withColumnRenamed("id", "item").withColumnRenamed("factors", "ifac"), "item")
        .select(
            "rating",
            F.aggregate(
                F.zip_with("ufac", "ifac", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
            ).alias("p"),
        )
    )
    if clip is not None:
        pred = pred.select("rating", F.least(F.greatest(F.col("p"), F.lit(clip[0])), F.lit(clip[1])).alias("p"))
    row = pred.agg(F.sqrt(F.avg(F.pow(F.col("p") - F.col("rating"), 2)))).collect()[0]
    return float(row[0])


def als(
    ratings: DataFrame,
    vector_size: int = 3,
    lambda_: float = 0.01,
    iterations: int = 10,
    rmse_target: float = -1.0,
    seed: int = 42,
    init_item_factors: DataFrame | None = None,
    track_rmse: bool = True,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """ratings: (user long, item long, rating double).
    Returns (user_factors, item_factors, rmse_per_iteration).

    ``init_item_factors``: optional (id, factors) overriding the
    hash-uniform item init (the reference's unseeded-Random analogue,
    Als.java:169-172). The user init is irrelevant either way — the
    first half-step re-solves the user side from the item factors."""
    ratings = ratings.select(
        F.col("user").cast("long"), F.col("item").cast("long"), F.col("rating").cast("double")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    users = ratings.select(F.col("user").alias("id")).distinct()
    items = ratings.select(F.col("item").alias("id")).distinct()
    uf = _init_factors(users, "id", vector_size, seed, "user")
    itf = (
        init_item_factors.select("id", "factors")
        if init_item_factors is not None
        else _init_factors(items, "id", vector_size, seed, "item")
    )
    log: list[float] = []
    for _ in range(iterations):
        uf = _solve_side(ratings, itf, "user", "item", lambda_, vector_size).localCheckpoint(eager=True)
        itf = _solve_side(ratings, uf, "item", "user", lambda_, vector_size).localCheckpoint(eager=True)
        if track_rmse or rmse_target > 0:  # same knob as sgd: the
            # per-iteration RMSE action is informational unless it halts
            r = _rmse(ratings, uf, itf)
            log.append(r)
            if rmse_target > 0 and r < rmse_target:
                break
    return uf, itf, log


def als_update_value(value: np.ndarray, mat_m: np.ndarray, mat_r: np.ndarray, lambda_: float) -> np.ndarray:
    """The bare ALS kernel (Als.java updateValue :140-151), exposed for
    the reference's golden unit test (AlsTest.java:32-63): solve
    (M·Mᵀ + λ·|R|·I)·u = M·R with M of shape f × n."""
    A = mat_m @ mat_m.T + lambda_ * mat_r.shape[0] * np.eye(mat_m.shape[0])
    V = mat_m @ mat_r
    return np.linalg.solve(A, V).ravel()


def sgd(
    ratings: DataFrame,
    vector_size: int = 3,
    lambda_: float = 0.01,
    gamma: float = 0.005,
    iterations: int = 10,
    min_rating: float = 0.0,
    max_rating: float = 5.0,
    rmse_target: float = -1.0,
    seed: int = 42,
    max_buffer: int | None = 100_000,
    track_rmse: bool = True,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Batch-synchronous SGD with the reference's update rule; message
    order fixed to ascending counterpart id for determinism.

    ``max_buffer`` bounds the per-group sequential fold on BOTH sides
    (a power user is one pandas group on the user pass, a power item
    one group on the item pass — uncapped, a 10^6-rating hub
    serializes one slow Python loop; CLiMF/TFMAP cap precedent,
    AbstractCFRankingComputation.getBufferSize). The cap cascades —
    first each user's set, then each item's — producing ONE bounded
    training set both passes fold over; kept rows are chosen by
    deterministic hash order (xxhash64(group, counterpart, seed),
    counterpart), a stable sample. RMSE is still measured over the
    FULL rating set."""
    ratings = ratings.select(
        F.col("user").cast("long"), F.col("item").cast("long"), F.col("rating").cast("double")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def _cap(df: DataFrame, group: str, other: str) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy(group).orderBy(
            F.xxhash64(group, other, F.lit(seed)), F.col(other)
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_buffer)
            .drop("rn")
        )

    if max_buffer is not None:
        train = _cap(_cap(ratings, "user", "item"), "item", "user").persist(
            StorageLevel.MEMORY_AND_DISK
        )
    else:
        train = ratings
    by_user = by_item = train
    users = ratings.select(F.col("user").alias("id")).distinct()
    items = ratings.select(F.col("item").alias("id")).distinct()
    uf = _init_factors(users, "id", vector_size, seed, "user")
    itf = _init_factors(items, "id", vector_size, seed, "item")

    def make_update(group_col: str, other_col: str):
        def update(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("oid", kind="stable")
            v = pdf["own"].iloc[0].copy() if isinstance(pdf["own"].iloc[0], np.ndarray) else np.array(pdf["own"].iloc[0])
            for u, r in zip(pdf["cf"], pdf["rating"]):
                u = np.asarray(u)
                pred = float(np.dot(v, u))
                pred = min(max(pred, min_rating), max_rating)
                err = pred - r
                v = v - gamma * (lambda_ * v + err * u)
            return pd.DataFrame({"id": [pdf["gid"].iloc[0]], "factors": [list(v)]})

        return update

    log: list[float] = []
    for _ in range(iterations):
        # user side updates from item factors
        j = (
            by_user.join(itf.withColumnRenamed("id", "item").withColumnRenamed("factors", "cf"), "item")
            .join(uf.withColumnRenamed("id", "user").withColumnRenamed("factors", "own"), "user")
            .select(F.col("user").alias("gid"), F.col("item").alias("oid"), "rating", "cf", "own")
        )
        uf = j.groupBy("gid").applyInPandas(make_update("user", "item"), "id long, factors array<double>").localCheckpoint(eager=True)
        # item side updates from (new) user factors
        j = (
            by_item.join(uf.withColumnRenamed("id", "user").withColumnRenamed("factors", "cf"), "user")
            .join(itf.withColumnRenamed("id", "item").withColumnRenamed("factors", "own"), "item")
            .select(F.col("item").alias("gid"), F.col("user").alias("oid"), "rating", "cf", "own")
        )
        itf = j.groupBy("gid").applyInPandas(make_update("item", "user"), "id long, factors array<double>").localCheckpoint(eager=True)
        # the per-iteration RMSE is a full |R|-scale 3-way join; it is
        # load-bearing only when rmse_target halts on it — callers at
        # production scale (or the gate) pass track_rmse=False to skip
        # the extra action per iteration (factors are unaffected)
        if track_rmse or rmse_target > 0:
            r = _rmse(ratings, uf, itf, clip=(min_rating, max_rating))
            log.append(r)
            if rmse_target > 0 and r < rmse_target:
                break
    return uf, itf, log


def _eval_scored_pool(
    user_factors: DataFrame,
    item_factors: DataFrame,
    relevant: DataFrame,
    num_samples: int,
    seed: int,
    rated: DataFrame | None,
) -> DataFrame:
    """(user, item, is_rel, score) candidate pool shared by the ranking
    evaluators: the held-out relevant items plus ``num_samples``
    hash-sampled unconnected items per user.

    Sampling is ``pmod(xxhash64(user, draw), |items|)`` against the
    distributed (idx, item) lookup with collision probing — NO
    users×items cross join (the naive pool is O(|U|·|I|) rows, a
    scale-killer; this one is O(|U|·num_samples)). Draws that still
    collide with a connected item after probing are dropped, so a user
    can receive marginally fewer than ``num_samples`` negatives —
    irrelevant for a ranking metric."""
    from okapi_spark.operators.ranking import _item_index, _sample_negatives

    rel = relevant.select(
        F.col("user").cast("long"), F.col("item").cast("long"), F.lit(True).alias("is_rel")
    )
    users = rel.select("user").distinct()
    connected = rel.select("user", "item")
    if rated is not None:
        connected = connected.unionByName(
            rated.select(F.col("user").cast("long"), F.col("item").cast("long"))
        ).distinct()
    if num_samples is None:
        # exhaustive protocol: EVERY unconnected item is a negative.
        # O(|U|·|I|) rows — the oracle-parity tier (SQL-expressible, no
        # hash sampling); the sampled protocol below is the scale path.
        neg = (
            users.crossJoin(item_factors.select(F.col("id").alias("item")))
            .join(connected, ["user", "item"], "left_anti")
            .withColumn("is_rel", F.lit(False))
        )
    else:
        items_idx, n_items = _item_index(item_factors.select("id"))
        draws = users.crossJoin(
            F.broadcast(
                items_idx.sparkSession.range(num_samples).select(F.col("id").alias("pos"))
            )
        )
        neg = (
            _sample_negatives(draws, connected, items_idx, n_items, f"eval{seed}", seed)
            .select("user", F.col("neg").alias("item"))
            .distinct()
            .join(connected, ["user", "item"], "left_anti")
            .withColumn("is_rel", F.lit(False))
        )
    pool = rel.select("user", "item", "is_rel").unionByName(neg)
    return (
        pool.join(user_factors.withColumnRenamed("id", "user").withColumnRenamed("factors", "ufac"), "user")
        .join(item_factors.withColumnRenamed("id", "item").withColumnRenamed("factors", "ifac"), "item")
        .select(
            "user", "item", "is_rel",
            F.aggregate(
                F.zip_with("ufac", "ifac", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
            ).alias("score"),
        )
    )


def precision_at_k_per_user(
    user_factors: DataFrame,
    item_factors: DataFrame,
    relevant: DataFrame,
    k: int = 5,
    num_samples: int | None = 100,
    seed: int = 0,
    rated: DataFrame | None = None,
) -> DataFrame:
    """(user, p) — per-user Precision@k under the candidate-pool
    protocol of :func:`precision_at_k`. ``num_samples=None`` switches
    to the exhaustive pool (every unconnected item a negative) — the
    deterministic, SQL-expressible oracle tier; p values are exact
    multiples of 1/k, so the rows compare exactly."""
    from pyspark.sql import Window

    scored = _eval_scored_pool(user_factors, item_factors, relevant, num_samples, seed, rated)
    w = Window.partitionBy("user").orderBy(F.desc("score"), F.asc("item"))
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return topk.groupBy("user").agg((F.sum(F.col("is_rel").cast("int")) / k).alias("p"))


def precision_at_k(
    user_factors: DataFrame,
    item_factors: DataFrame,
    relevant: DataFrame,
    k: int = 5,
    num_samples: int | None = 100,
    seed: int = 0,
    rated: DataFrame | None = None,
) -> float:
    """Precision@k with sampled irrelevant items
    (cf/eval/RankEvaluationComputation.java:43-172: per user, rank
    ``num_samples`` hash-sampled UNCONNECTED items plus the relevant
    test items by factor dot product; precision = relevant in top-k / k).
    ``rated``: (user, item) training pairs to exclude from negatives —
    the reference's "irrelevant" items are those with no edge at all."""
    per_user = precision_at_k_per_user(
        user_factors, item_factors, relevant, k, num_samples, seed, rated
    )
    return float(per_user.agg(F.avg("p")).collect()[0][0])


def mean_reciprocal_rank(
    user_factors: DataFrame,
    item_factors: DataFrame,
    relevant: DataFrame,
    num_samples: int = 100,
    seed: int = 0,
    rated: DataFrame | None = None,
) -> float:
    """MRR under the same sampled-candidate protocol as
    :func:`precision_at_k` (cf/eval/RankEvaluationComputation.java
    :43-172): per user, rank the held-out relevant items among
    ``num_samples`` hash-sampled unconnected items; score = 1/rank of
    the first relevant item, averaged over users. This is the metric
    CLiMF optimizes (smoothed MRR), so it is the protocol-shape check
    for climf_ranking."""
    from pyspark.sql import Window

    scored = _eval_scored_pool(user_factors, item_factors, relevant, num_samples, seed, rated)
    w = Window.partitionBy("user").orderBy(F.desc("score"), F.asc("item"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    per_user = (
        ranked.filter("is_rel")
        .groupBy("user")
        .agg((F.lit(1.0) / F.min("rn")).alias("rr"))
    )
    return float(per_user.agg(F.avg("rr")).collect()[0][0])
