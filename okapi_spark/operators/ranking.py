"""CF ranking family — cf/ranking/* (AbstractCFRankingComputation's
4-superstep sample→send→update→apply cycle, :103-135).

* **Popularity** (PopularityRankingComputation.java:44-68): item score
  = number of raters; "factors" are the 1-D popularity so the shared
  Precision@k evaluator works unchanged.
* **Random** (RandomRankingComputation.java:51-62): random item/user
  vectors — the evaluation floor. Hash-derived, deterministic.
* **BPR** (BPRRankingComputation.java:25-60): Bayesian Personalized
  Ranking — per iteration each user draws a (positive, sampled
  negative) item pair and applies the AUC gradient
  ``σ(-x_uij)`` with x_uij = p_u·(q_i − q_j):
      p_u += γ(σ(−x)·(q_i − q_j) − λ p_u)
      q_i += γ(σ(−x)·p_u − λ q_i)
      q_j += γ(−σ(−x)·p_u − λ q_j)
* **CLiMF** (ClimfRankingComputation.java:59-133): smoothed-MRR
  gradient over each user's relevant set (Shi et al., RecSys 2012).
* **TFMAP** (TFMAPRankingComputation.java:43-148): smoothed-MAP
  gradient (Shi et al., SIGIR 2012), relevant + sampled-irrelevant
  buffer per user.

All sampling is hash-derived (xxhash64 mod |items| against a
distributed (idx, item) lookup built with zipWithIndex — NO driver
collect of the item universe, no literal arrays), so runs are
deterministic and partitioning-independent; the reference samples with
an unseeded RNG worker-side (AbstractCFRankingComputation.java:268-316).
Item updates within an iteration are aggregated (batch-synchronous),
matching the reference's message-accumulated deltas (:103-135).

Gradient kernels are Arrow-batched ``applyInPandas`` with stacked-NumPy
batch math — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from okapi_spark.hashing import hash_uniform


def popularity_ranking(ratings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Returns (user_factors, item_factors) with 1-D popularity scores
    (item: #raters; user: constant 1 so dot = popularity)."""
    itf = (
        ratings.groupBy(F.col("item").alias("id"))
        .agg(F.count("*").cast("double").alias("pop"))
        .select("id", F.array("pop").alias("factors"))
    )
    uf = ratings.select(F.col("user").alias("id")).distinct().select(
        "id", F.array(F.lit(1.0)).alias("factors")
    )
    return uf, itf


def random_ranking(ratings: DataFrame, vector_size: int = 10, seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """Deterministic random vectors — the baseline floor."""

    def mk(ids: DataFrame, salt: str) -> DataFrame:
        cols = [
            (hash_uniform("id", F.lit(f"{salt}:{i}"), F.lit(seed)) - 0.5).alias(f"f{i}")
            for i in range(vector_size)
        ]
        return ids.select("id", F.array(*cols).alias("factors"))

    return (
        mk(ratings.select(F.col("user").alias("id")).distinct(), "u"),
        mk(ratings.select(F.col("item").alias("id")).distinct(), "i"),
    )


# ---------------------------------------------------------------------------
# shared harness pieces
# ---------------------------------------------------------------------------

def _init_factors(ids: DataFrame, salt: str, vector_size: int, seed: int,
                  scale: float = 0.1) -> DataFrame:
    cols = [
        (hash_uniform("id", F.lit(f"{salt}:{i}"), F.lit(seed)) * scale).alias(f"f{i}")
        for i in range(vector_size)
    ]
    return ids.select("id", F.array(*cols).alias("factors"))


def _item_index(items: DataFrame) -> tuple[DataFrame, int]:
    """(idx long, item long) with contiguous idx ∈ [0, n) built
    DISTRIBUTED via zipWithIndex — the sampling lookup table. Replaces
    the driver-side collect + per-row literal array (the anti-scale
    pattern): sampling becomes pmod(hash) → equi-join on idx.

    The ``orderBy`` is load-bearing: zipWithIndex numbers rows by
    (partition, offset), so without a global sort the idx→item map —
    and with it every hash-drawn negative — would depend on the
    physical layout of ``distinct()``'s output. Sorted, idx is the
    rank of the item id: a pure function of the input (the
    partitioning-invariance contract of the golden-snapshot oracles).
    The sort is one distributed range exchange of an (id)-only table,
    paid once per training run."""
    rdd = items.select("id").orderBy("id").rdd.map(lambda r: r[0]).zipWithIndex()
    spark = items.sparkSession
    idx = spark.createDataFrame(rdd.map(lambda t: (t[1], t[0])), "idx long, item long")
    idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
    n = idx.count()
    return idx, n


def _sample_negatives(
    pos: DataFrame,
    rated: DataFrame,
    items_idx: DataFrame,
    n_items: int,
    salt: str,
    seed: int,
    probes: int = 3,
    per_user: bool = False,
) -> DataFrame:
    """Hash-derived negative per (user, pos) row — or per (user, k) row
    when ``per_user`` (pos column then holds the draw number). Collisions
    with rated items are rejected by probing idx+1, idx+2, … (``probes``
    rounds); each probe is one semi-join + one idx equi-join, no
    driver-side universe. Returns input columns + ``neg``."""
    cand = pos.withColumn(
        "negidx",
        F.pmod(F.xxhash64("user", "pos", F.lit(salt), F.lit(seed)), F.lit(n_items)),
    ).join(items_idx.withColumnRenamed("item", "neg"), F.col("negidx") == F.col("idx")).drop("idx")
    for _ in range(probes):
        hit = (
            cand.join(rated.withColumnRenamed("item", "neg"), ["user", "neg"], "left_semi")
            .select("user", "pos")
            .withColumn("bump", F.lit(1))
        )
        cand = (
            cand.drop("neg")
            .join(hit, ["user", "pos"], "left")
            .withColumn(
                "negidx",
                F.when(F.col("bump").isNotNull(), F.pmod(F.col("negidx") + 1, F.lit(n_items)))
                .otherwise(F.col("negidx")),
            )
            .drop("bump")
            .join(items_idx.withColumnRenamed("item", "neg"), F.col("negidx") == F.col("idx"))
            .drop("idx")
        )
    return cand.drop("negidx")


def _apply_deltas(state: DataFrame, deltas: DataFrame, kind: str) -> DataFrame:
    """factors += Σ deltas for one side ('u'/'i') — the reference's
    superstep-3 message-accumulated apply (:117-121)."""
    agg = (
        deltas.filter(F.col("kind") == kind)
        .select("id", F.posexplode("delta").alias("pos", "dv"))
        # decimal sum: exact, order-insensitive addition (adamic_adar
        # precedent) so accumulated factors are bit-identical under any
        # partitioning — required by the golden-snapshot oracles; the
        # sub-1e-18 bits a double delta may carry are truncated
        # identically on every layout
        .groupBy("id", "pos").agg(F.sum(F.col("dv").cast("decimal(38,18)")).cast("double").alias("d"))
        .groupBy("id").agg(F.array_sort(F.collect_list(F.struct("pos", "d"))).alias("p"))
        .select("id", F.transform("p", lambda s: s["d"]).alias("delta"))
    )
    return (
        state.join(agg, "id", "left")
        .select(
            "id",
            F.when(F.col("delta").isNotNull(),
                   F.zip_with("factors", "delta", lambda a, b: a + b))
            .otherwise(F.col("factors")).alias("factors"),
        )
        .localCheckpoint(eager=True)
    )


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # logf (AbstractCFRankingComputation.java:318-320), overflow-safe
    out = np.empty_like(x, dtype="float64")
    p, m = x >= 0, x < 0
    out[p] = 1.0 / (1.0 + np.exp(-x[p]))
    e = np.exp(x[m])
    out[m] = e / (1.0 + e)
    return out


def _sigmoid_d(x: np.ndarray) -> np.ndarray:
    # logfd = σ'(x) (AbstractCFRankingComputation.java:322-324)
    s = _sigmoid(x)
    return s * (1.0 - s)


# ---------------------------------------------------------------------------
# BPR
# ---------------------------------------------------------------------------

def _bpr_triples(
    ratings: DataFrame, items_idx: DataFrame, n_items: int, it: int, seed: int
) -> DataFrame:
    """One BPR epoch's (user, pos, neg) triples: every rated (user,
    item) is a positive with a hash-derived negative. A probed draw can
    still collide after 3 rejections — the final ``left_anti`` drops
    the triple rather than train on a rated item as its "negative"."""
    pos = ratings.select("user", F.col("item").alias("pos"))
    triples = _sample_negatives(pos, ratings, items_idx, n_items, f"neg{it}", seed)
    return triples.join(
        ratings.select("user", F.col("item").alias("neg")), ["user", "neg"], "left_anti"
    )


def bpr_ranking(
    ratings: DataFrame,
    vector_size: int = 10,
    iterations: int = 30,
    gamma: float = 0.05,
    lambda_: float = 0.01,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Batch-synchronous BPR. Returns (user_factors, item_factors)."""
    ratings = ratings.select(
        F.col("user").cast("long"), F.col("item").cast("long")
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    users = ratings.select(F.col("user").alias("id")).distinct()
    items = ratings.select(F.col("item").alias("id")).distinct()
    items_idx, n_items = _item_index(items)

    uf = _init_factors(users, "u", vector_size, seed)
    itf = _init_factors(items, "i", vector_size, seed)

    def grad(pdf: pd.DataFrame) -> pd.DataFrame:
        # stacked batch math — no per-row Python (cf. svdpp.py kernels)
        pu = np.stack(pdf["pu"].to_numpy())
        qi = np.stack(pdf["qi"].to_numpy())
        qj = np.stack(pdf["qj"].to_numpy())
        diff = qi - qj
        x = np.einsum("ij,ij->i", pu, diff)
        s = _sigmoid(-x)[:, None]
        du = gamma * (s * diff - lambda_ * pu)
        di = gamma * (s * pu - lambda_ * qi)
        dj = gamma * (-s * pu - lambda_ * qj)
        return pd.DataFrame({
            "kind": ["u"] * len(pdf) + ["i"] * len(pdf) + ["i"] * len(pdf),
            "id": np.concatenate([pdf["user"], pdf["pos"], pdf["neg"]]),
            "delta": list(du) + list(di) + list(dj),
        })

    for it in range(iterations):
        triples = _bpr_triples(ratings, items_idx, n_items, it, seed)

        j = (
            triples.join(uf.withColumnRenamed("id", "user").withColumnRenamed("factors", "pu"), "user")
            .join(itf.withColumnRenamed("id", "pos").withColumnRenamed("factors", "qi"), "pos")
            .join(itf.withColumnRenamed("id", "neg").withColumnRenamed("factors", "qj"), "neg")
        )
        deltas = j.groupBy(F.pmod(F.xxhash64("user"), F.lit(64)).alias("g")).applyInPandas(
            lambda pdf: grad(pdf), "kind string, id long, delta array<double>"
        ).persist(StorageLevel.MEMORY_AND_DISK)

        uf = _apply_deltas(uf, deltas, "u")
        itf = _apply_deltas(itf, deltas, "i")
        deltas.unpersist()
    items_idx.unpersist()
    return uf, itf


# ---------------------------------------------------------------------------
# CLiMF / TFMAP — per-user-buffer harness
# ---------------------------------------------------------------------------

def _buffer_harness(
    ratings: DataFrame,
    kernel,
    vector_size: int,
    iterations: int,
    seed: int,
    sample_irrelevant: bool,
    max_buffer: int | None = 1024,
) -> tuple[DataFrame, DataFrame]:
    """The reference's sample→send→update→apply cycle
    (AbstractCFRankingComputation.java:103-135) as one grouped-kernel
    pass per iteration: per user, gather the buffer (relevant items +
    optionally |R| hash-sampled irrelevant items, :268-294), hand the
    stacked factor matrix to ``kernel`` (vectorized NumPy), aggregate
    the emitted deltas per id, apply.

    ``max_buffer`` bounds the per-user relevant set (reference
    precedent: getBufferSize caps the message buffer): the kernels
    build |R|×|R| pairwise matrices, so an uncapped power user with
    10^5 relevant items would OOM a worker. Items are kept by
    deterministic hash order (xxhash64(user, item, seed)), so the
    truncation is a stable sample, not a head-of-table bias. Capped
    once up front — the relevant set is static across iterations."""
    ratings = ratings.select(
        F.col("user").cast("long"), F.col("item").cast("long")
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    if max_buffer is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("user").orderBy(
            F.xxhash64("user", "item", F.lit(seed)), F.col("item")
        )
        capped = (
            ratings.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_buffer)
            .drop("rn")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        capped = ratings
    users = ratings.select(F.col("user").alias("id")).distinct()
    items = ratings.select(F.col("item").alias("id")).distinct()
    items_idx, n_items = _item_index(items)

    uf = _init_factors(users, "u", vector_size, seed)
    itf = _init_factors(items, "i", vector_size, seed)

    for it in range(iterations):
        rel = capped.select("user", "item").withColumn("rel", F.lit(True))
        if sample_irrelevant:
            # one irrelevant draw per relevant edge = |R| per user
            # (getBufferSize(numberOfRelevants) = numberOfRelevants);
            # rejection stays against the FULL rated set, not the cap
            irr = (
                _sample_negatives(
                    capped.select("user", F.col("item").alias("pos")),
                    ratings, items_idx, n_items, f"irr{it}", seed,
                )
                .select("user", F.col("neg").alias("item"))
                .distinct()
                # a probed draw can still collide after 3 rejections —
                # drop it rather than poison the relevant set
                .join(ratings, ["user", "item"], "left_anti")
                .withColumn("rel", F.lit(False))
            )
            buf = rel.unionByName(irr)
        else:
            buf = rel
        j = (
            buf.join(uf.withColumnRenamed("id", "user").withColumnRenamed("factors", "uvec"), "user")
            .join(itf.withColumnRenamed("id", "item").withColumnRenamed("factors", "ivec"), "item")
            .select("user", "item", "rel", "uvec", "ivec")
        )
        deltas = j.groupBy("user").applyInPandas(
            kernel, "kind string, id long, delta array<double>"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        uf = _apply_deltas(uf, deltas, "u")
        itf = _apply_deltas(itf, deltas, "i")
        deltas.unpersist()
    items_idx.unpersist()
    if capped is not ratings:
        capped.unpersist()
    return uf, itf


def climf_ranking(
    ratings: DataFrame,
    vector_size: int = 10,
    iterations: int = 30,
    gamma: float = 0.05,
    lambda_: float = 0.01,
    seed: int = 42,
    max_buffer: int | None = 1024,
) -> tuple[DataFrame, DataFrame]:
    """CLiMF — smoothed Mean Reciprocal Rank ascent
    (ClimfRankingComputation.java:59-133; Shi et al., "CLiMF: learning
    to maximize reciprocal rank with collaborative less-is-more
    filtering", RecSys 2012, eqs. 10-11). Per user with relevant
    factors V (rows j) and user vector U, f = V·U:

        ΔU   = γ[ Σ_j σ(−f_j)V_j
                  + Σ_{j,k} σ'(f_k−f_j)/(1−σ(f_k−f_j)) (V_j−V_k)
                  − λU ]
        ΔV_j = γ[ (σ(−f_j)
                  + Σ_k σ'(f_j−f_k)(1/(1−σ(f_k−f_j)) − 1/(1−σ(f_j−f_k))))U
                  − λV_j ]

    Documented deviations from the reference (intended-math fixes):
    the reference's jblas calls are NOT in-place, so its user reg +
    learning rate are computed and discarded (:101-102) and its item
    delta stays exactly zero (:118-120) — transliterating that would
    never move the item factors; its inner pairwise user term also
    overwrites instead of accumulating (:95). We implement the paper
    gradient the code cites. The reference folds its sampled
    irrelevant items into these sums only because it never checks
    isRelevant (:88); the paper's sums are over relevant items, which
    is what we compute — so no irrelevant sampling is needed at all.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort: group row order is layout-dependent, and the axis sums
        # below are float folds over it — sorted, the kernel is a pure
        # function of the group's row SET (golden-oracle contract)
        pdf = pdf.sort_values("item", kind="stable")
        user = int(pdf["user"].iloc[0])
        u = np.asarray(pdf["uvec"].iloc[0], dtype="float64")
        v = np.stack(pdf["ivec"].to_numpy()).astype("float64")
        ids = pdf["item"].to_numpy()
        f = v @ u                                  # (m,)
        m = f[:, None] - f[None, :]                # m[j,k] = f_j − f_k
        sig_neg_f = _sigmoid(-f)
        sig_m, sig_neg_m = _sigmoid(m), _sigmoid(-m)
        # exact simplifications via σ'(x) = σ(x)σ(−x) — no divisions,
        # so no overflow or precision loss at large score gaps:
        #   σ'(f_k−f_j)/(1−σ(f_k−f_j))                    = σ(f_k−f_j) = σ(−m)
        #   σ'(f_j−f_k)(1/(1−σ(f_k−f_j)) − 1/(1−σ(f_j−f_k))) = σ(−m) − σ(m)
        w = sig_neg_m                              # w[j,k] = σ(f_k−f_j)
        du_pair = ((w.sum(axis=1) - w.sum(axis=0))[:, None] * v).sum(axis=0)
        du = gamma * ((sig_neg_f[:, None] * v).sum(axis=0) + du_pair - lambda_ * u)
        scal = sig_neg_f + (sig_neg_m - sig_m).sum(axis=1)
        dv = gamma * (scal[:, None] * u[None, :] - lambda_ * v)
        return pd.DataFrame({
            "kind": ["u"] + ["i"] * len(ids),
            "id": np.concatenate([[user], ids]),
            "delta": [du] + list(dv),
        })

    return _buffer_harness(ratings, kernel, vector_size, iterations, seed,
                           sample_irrelevant=False, max_buffer=max_buffer)


def tfmap_ranking(
    ratings: DataFrame,
    vector_size: int = 10,
    iterations: int = 30,
    gamma: float = 0.05,
    lambda_: float = 0.01,
    seed: int = 42,
    max_buffer: int | None = 1024,
) -> tuple[DataFrame, DataFrame]:
    """TFMAP — smoothed Mean Average Precision ascent
    (TFMAPRankingComputation.java:43-148; Shi et al., "TFMAP:
    optimizing MAP for top-n context-aware recommendation", SIGIR 2012
    — context omitted exactly like the reference, :36-37). Buffer per
    user = relevant items + |R| hash-sampled irrelevant (:49,
    getBufferSize). With R the relevant rows, f = V·U:

        ΔU   = γ[ (1/|R|) Σ_{i∈R} ( σ'(f_i)(Σ_{j∈R} σ(f_j−f_i)) V_i
                  + σ(f_i) Σ_{j∈R} σ'(f_j−f_i)(V_j−V_i) ) − λU ]
        ΔV_i = γ[ (1/|R|) Σ_{j∈R} ( σ'(f_i)σ(f_j−f_i) + σ(f_j)
                  − σ(f_i)σ'(f_j−f_i) ) U − λV_i ]   for EVERY buffered i

    i.e. the product-rule gradient of the smoothed AP the reference's
    computeDelta/updateItem expand (:69-137). Documented deviations
    (intended-math fixes): the reference overwrites its user
    accumulator per relevant item instead of summing (:113) and adds
    the scalar σ(f_i) elementwise to the factor vector (:113,
    V_sum.add(gf_mi) — jblas scalar add); its item update is applied
    without the learning rate (:64 vs :59) which makes item factors
    run away from the user scale — we scale both sides by γ.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # sorted for layout-independence (see climf kernel)
        pdf = pdf.sort_values("item", kind="stable")
        user = int(pdf["user"].iloc[0])
        u = np.asarray(pdf["uvec"].iloc[0], dtype="float64")
        v = np.stack(pdf["ivec"].to_numpy()).astype("float64")
        ids = pdf["item"].to_numpy()
        rel = pdf["rel"].to_numpy().astype(bool)
        r = int(rel.sum())
        if r == 0:
            return pd.DataFrame({"kind": [], "id": [], "delta": []})
        f = v @ u
        fr, vr = f[rel], v[rel]
        # pairwise over (buffered i, relevant j): d[i,j] = f_j − f_i
        d = fr[None, :] - f[:, None]
        sig_d, spd_d = _sigmoid(d), _sigmoid_d(d)
        sf, spf = _sigmoid(f), _sigmoid_d(f)
        # user gradient over relevant i only
        dr, sig_dr, spd_dr = d[rel], sig_d[rel], spd_d[rel]   # (r, r)
        term1 = (spf[rel] * sig_dr.sum(axis=1))[:, None] * vr
        vsum = spd_dr @ vr                                    # Σ_j σ'(f_j−f_i) V_j
        term2 = sf[rel][:, None] * (vsum - spd_dr.sum(axis=1)[:, None] * vr)
        du = gamma * ((term1 + term2).sum(axis=0) / r - lambda_ * u)
        # item gradient for every buffered i
        bsum = (spf[:, None] * sig_d + sf[rel][None, :] - sf[:, None] * spd_d).sum(axis=1)
        dv = gamma * ((bsum / r)[:, None] * u[None, :] - lambda_ * v)
        return pd.DataFrame({
            "kind": ["u"] + ["i"] * len(ids),
            "id": np.concatenate([[user], ids]),
            "delta": [du] + list(dv),
        })

    return _buffer_harness(ratings, kernel, vector_size, iterations, seed,
                           sample_irrelevant=True, max_buffer=max_buffer)
