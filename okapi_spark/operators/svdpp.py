"""SVD++ — cf/svd/Svdpp.java:48-567.

Model: r̂(u,i) = clip(μ + b_u + b_i + qᵢ·(p_u + |N(u)|^-½ Σ_{j∈N(u)} y_j))
(computePredictedRating :115-131). Updates per rating, applied
sequentially within a user's message loop (UserComputation :368-440):

* baselines   b += γ_b((r̂−r) − λ_b·b)            (:145-151)
* user factor p += γ_f(err·q − λ_f·p)            (updateValue :341-345)
* item steps  Δb_i = γ_b·err ; Δq_i = γ_f·err·(p + |N|^-½ΣY);
  Δy (one per user, shared) = γ_f/√N · Σ err·q    (:404-439)
* item side applies steps with decay v += step − γλv (incrementValue
  :163-181), then rebroadcasts (ItemComputation :475-500).

Faithful quirks preserved: μ is the aggregated rating sum divided by
``getTotalNumEdges()`` — which counts BOTH directions after reverse-
edge creation, i.e. μ = Σr / (2|R|), half the true mean (:366-367 with
InitItems adding reverses). The reference applies messages in Giraph
arrival order (nondeterministic); we sort by counterpart id.

DELIBERATE DEVIATION: the reference computes ``error = predicted −
observed`` (:397) and then ADDS γ·error into baselines/factors
(:145-151, :341-345) — the sign-flipped Koren update, i.e. gradient
ASCENT; as written its RMSE increases monotonically (verified
empirically). We use the correct sign (err = observed − predicted),
which is what the cited formulas in the reference's own javadoc
("b := b + gamma * (error - lambda*b)", Koren 2008) intend.

Defaults: γ=0.005, λ=0.01 (bias and factor), 10 iterations, ratings
clipped to [0,5] (:55-87). Init: hash-derived uniforms replacing the
unseeded Random (factors/weights in [0,0.01), baseline in [0,1)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.hashing import hash_uniform

STEP_SCHEMA = (
    "kind string, id long, src long, b double, f array<double>, w array<double>, rmse double"
)


def _init(ids: DataFrame, vector_size: int, seed: int, salt: str, with_weights: bool) -> DataFrame:
    f_cols = [
        (hash_uniform("id", F.lit(f"{salt}:f{i}"), F.lit(seed)) * 0.01).alias(f"f{i}")
        for i in range(vector_size)
    ]
    w_cols = [
        (hash_uniform("id", F.lit(f"{salt}:w{i}"), F.lit(seed)) * 0.01).alias(f"w{i}")
        for i in range(vector_size)
    ]
    b = hash_uniform("id", F.lit(f"{salt}:b"), F.lit(seed))
    out = ids.select(
        "id",
        b.alias("baseline"),
        F.array(*f_cols).alias("factors"),
        (F.array(*w_cols) if with_weights else F.array(*[F.lit(0.0)] * vector_size)).alias("weights"),
    )
    return out


def svdpp(
    ratings: DataFrame,
    vector_size: int = 10,
    iterations: int = 10,
    factor_gamma: float = 0.005,
    factor_lambda: float = 0.01,
    bias_gamma: float = 0.005,
    bias_lambda: float = 0.01,
    min_rating: float = 0.0,
    max_rating: float = 5.0,
    rmse_target: float = -1.0,
    seed: int = 42,
    max_buffer: int | None = 100_000,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """ratings: (user, item, rating). Returns (user_state, item_state,
    rmse_log); states are (id, baseline, factors, weights).

    ``max_buffer`` bounds each user's rating set (the per-user
    sequential fold is one pandas group, one task: a 10^6-rating power
    user would otherwise serialize one slow Python loop and dominate
    the superstep — the CLiMF/TFMAP cap's precedent,
    AbstractCFRankingComputation.getBufferSize). Ratings are kept in
    deterministic hash order (xxhash64(user, item, seed), item), so
    the truncation is a stable sample; N(u), sqrt|N| and Σy_j then
    refer to the capped set — a documented approximation that only
    engages above the cap. Applied once up front (the set is static
    across iterations)."""
    ratings = ratings.select(
        F.col("user").cast("long"), F.col("item").cast("long"), F.col("rating").cast("double")
    )
    if max_buffer is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("user").orderBy(
            F.xxhash64("user", "item", F.lit(seed)), F.col("item")
        )
        ratings = (
            ratings.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_buffer)
            .drop("rn")
        )
    ratings = ratings.persist(StorageLevel.MEMORY_AND_DISK)
    n_ratings = ratings.count()
    rating_sum = ratings.agg(F.sum("rating")).collect()[0][0]
    # reference quirk: totalNumEdges counts both directions → μ = Σr/(2|R|)
    mean_rating = rating_sum / (2 * n_ratings)

    users = ratings.select(F.col("user").alias("id")).distinct()
    items = ratings.select(F.col("item").alias("id")).distinct()
    uf = _init(users, vector_size, seed, "user", with_weights=False)
    itf = _init(items, vector_size, seed, "item", with_weights=True)

    def clip(x: float) -> float:
        return min(max(x, min_rating), max_rating)

    def user_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("item", kind="stable")
        user = int(pdf["user"].iloc[0])
        ub = float(pdf["ubase"].iloc[0])
        p = np.array(pdf["ufac"].iloc[0], dtype=float)
        n = len(pdf)
        sqrt_n = np.sqrt(n)
        q = np.stack([np.asarray(x, dtype=float) for x in pdf["ifac"]])
        y = np.stack([np.asarray(x, dtype=float) for x in pdf["iweights"]])
        ib = pdf["ibase"].to_numpy(dtype=float)
        r = pdf["rating"].to_numpy(dtype=float)
        sum_w = y.sum(axis=0)

        weight_step = np.zeros(vector_size)
        for j in range(n):
            pred = clip(mean_rating + ub + ib[j] + q[j] @ (p + sum_w / sqrt_n))
            err = r[j] - pred  # observed − predicted (Koren sign; see module doc)
            ub = ub + bias_gamma * (err - bias_lambda * ub)
            p = p + factor_gamma * (err * q[j] - factor_lambda * p)
            weight_step += q[j] * err
        weight_step *= factor_gamma / sqrt_n

        rows = []
        rmse_sum = 0.0
        for j in range(n):
            pred = clip(mean_rating + ub + ib[j] + q[j] @ (p + sum_w / sqrt_n))
            err = r[j] - pred
            rmse_sum += err * err
            factor_step = factor_gamma * err * (sum_w / sqrt_n + p)
            rows.append(
                ("step", int(pdf["item"].iloc[j]), user, bias_gamma * err,
                 list(factor_step), list(weight_step), 0.0)
            )
        rows.append(("user", user, user, ub, list(p), [0.0] * vector_size, rmse_sum))
        return pd.DataFrame(rows, columns=["kind", "id", "src", "b", "f", "w", "rmse"])

    def item_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # Deterministic application order: sort steps by the originating user
        # id (the reference applies Giraph messages in arrival order, which is
        # nondeterministic; Svdpp.java:404-439). Partitioning-invariant.
        pdf = pdf.sort_values("src", kind="stable")
        item = int(pdf["id"].iloc[0])
        ib = float(pdf["ibase"].iloc[0])
        q = np.array(pdf["ifac"].iloc[0], dtype=float)
        y = np.array(pdf["iweights"].iloc[0], dtype=float)
        # Sequential decay fold v_k = (1-c)·v_{k-1} + s_k has the closed form
        # v_n = (1-c)^n·v_0 + Σ_k (1-c)^(n-1-k)·s_k — vectorized here.
        n = len(pdf)
        exps = np.arange(n - 1, -1, -1, dtype=float)
        cb, cf = bias_gamma * bias_lambda, factor_gamma * factor_lambda
        db, df_ = (1.0 - cb) ** exps, (1.0 - cf) ** exps
        ib = ib * (1.0 - cb) ** n + float(pdf["b"].to_numpy(dtype=float) @ db)
        fs = np.stack([np.asarray(x, dtype=float) for x in pdf["f"]])
        ws = np.stack([np.asarray(x, dtype=float) for x in pdf["w"]])
        q = q * (1.0 - cf) ** n + df_ @ fs
        y = y * (1.0 - cf) ** n + df_ @ ws
        return pd.DataFrame(
            {"id": [item], "baseline": [ib], "factors": [list(q)], "weights": [list(y)]}
        )

    log: list[float] = []
    for _ in range(iterations):
        joined = (
            ratings.join(uf.withColumnRenamed("id", "user")
                         .withColumnRenamed("baseline", "ubase")
                         .withColumnRenamed("factors", "ufac")
                         .drop("weights"), "user")
            .join(itf.withColumnRenamed("id", "item")
                     .withColumnRenamed("baseline", "ibase")
                     .withColumnRenamed("factors", "ifac")
                     .withColumnRenamed("weights", "iweights"), "item")
        )
        out = joined.groupBy("user").applyInPandas(user_kernel, STEP_SCHEMA)
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        new_uf = (
            out.filter(F.col("kind") == "user")
            .select("id", F.col("b").alias("baseline"), F.col("f").alias("factors"),
                    F.col("w").alias("weights"))
            .localCheckpoint(eager=True)
        )
        rmse = (out.filter(F.col("kind") == "user").agg(F.sum("rmse")).collect()[0][0] or 0.0)
        rmse = float(np.sqrt(rmse / n_ratings))
        steps = out.filter(F.col("kind") == "step")
        new_itf = (
            steps.join(itf.withColumnRenamed("baseline", "ibase")
                          .withColumnRenamed("factors", "ifac")
                          .withColumnRenamed("weights", "iweights"), "id")
            .groupBy("id")
            .applyInPandas(item_kernel, "id long, baseline double, factors array<double>, weights array<double>")
            .localCheckpoint(eager=True)
        )
        # items with no steps this round keep state
        itf = (
            itf.join(new_itf.withColumnRenamed("id", "nid"), itf["id"] == F.col("nid"), "left")
            .select(
                itf["id"],
                F.coalesce(new_itf["baseline"], itf["baseline"]).alias("baseline"),
                F.coalesce(new_itf["factors"], itf["factors"]).alias("factors"),
                F.coalesce(new_itf["weights"], itf["weights"]).alias("weights"),
            )
            .localCheckpoint(eager=True)
        )
        uf = new_uf
        out.unpersist()
        log.append(rmse)
        if rmse_target > 0 and rmse < rmse_target:
            break
    return uf, itf, log


def svdpp_predict(uf: DataFrame, itf: DataFrame, ratings: DataFrame,
                  min_rating: float = 0.0, max_rating: float = 5.0,
                  mean_rating: float | None = None) -> DataFrame:
    """(user, item, prediction) for the given pairs, using the trained
    state; ``N(u)`` taken from the pairs' user groups."""
    if mean_rating is None:
        n = ratings.count()
        mean_rating = (ratings.agg(F.sum("rating")).collect()[0][0] or 0.0) / (2 * n)
    j = (
        ratings.select("user", "item")
        .join(uf.withColumnRenamed("id", "user").withColumnRenamed("baseline", "ubase")
               .withColumnRenamed("factors", "ufac").drop("weights"), "user")
        .join(itf.withColumnRenamed("id", "item").withColumnRenamed("baseline", "ibase")
               .withColumnRenamed("factors", "ifac").withColumnRenamed("weights", "iweights"), "item")
    )
    # Σ y_j and |N(u)| per user, then blended user vector p + |N|^-½ΣY
    nr = j.groupBy("user").agg(F.count("*").alias("nr"))
    wsum = (
        j.select("user", F.posexplode("iweights").alias("pos", "wv"))
        .groupBy("user", "pos").agg(F.sum("wv").alias("ws"))
        .groupBy("user").agg(F.array_sort(F.collect_list(F.struct("pos", "ws"))).alias("packed"))
        .select("user", F.transform("packed", lambda s: s["ws"]).alias("wsum"))
    )
    j = j.join(nr, "user").join(wsum, "user")
    blended = F.zip_with(
        "ufac", "wsum", lambda a, b: a + b / F.sqrt(F.col("nr").cast("double"))
    )
    dot = F.aggregate(F.zip_with("ifac", blended, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    pred = F.lit(mean_rating) + F.col("ubase") + F.col("ibase") + dot
    pred = F.least(F.greatest(pred, F.lit(min_rating)), F.lit(max_rating))
    return j.select("user", "item", pred.alias("prediction"))
