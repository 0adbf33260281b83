"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on the synthesized source-repo
corpus (BASELINE.json input_hint shape): generate documents →
co-commit edge induction → PageRank to 1e-6 → top ranks decoded.

``queries()`` / ``oracle_sql()`` — the operator suite exercised over a
co-purchase part graph induced from the sf testdata's ``lineitem``
(SQL-reproducible induction so DuckDB can oracle every operator,
including unrolled fixed-iteration PageRank/LPA/SSSP and a pruned
recursive-CTE connected components).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# flagship smoke
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Corpus → link graph → PageRank (converged) → top-20 hubs.

    PageRank runs in its default ``mode="auto"``: inside the csr fuse
    window (and with no checkpoint store) every superstep runs in the
    driver over one gathered csr layout; ``res.plan`` records the
    choice."""
    from okapi_spark.graph.induce import induce_edges, vertices_table
    from okapi_spark.operators.pagerank import pagerank
    from okapi_spark.sources.corpus import generate_documents

    docs = generate_documents(spark, sf=0.001).cache()
    g = induce_edges(docs)
    res = pagerank(g, tol=1e-6, max_supersteps=60)
    top = res.state.orderBy(F.desc("rank")).limit(20)
    return top.join(vertices_table(docs), "id").select("repo", "path", "rank")


# ---------------------------------------------------------------------------
# shared induction (Spark side)
# ---------------------------------------------------------------------------

def _graph(spark: SparkSession, sf_dir: str):
    from okapi_spark.graph.induce import copurchase_edges

    return copurchase_edges(spark, sf_dir)


# SQL prelude reproducing the same induction for DuckDB (views are
# pre-registered: lineitem etc.)
_EDGES_CTE = """
e0 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT src, dst FROM e0
  UNION ALL
  SELECT dst AS src, src AS dst FROM e0
),
verts AS (SELECT DISTINCT src AS id FROM edges),
deg AS (SELECT src AS id, COUNT(*) AS degree FROM edges GROUP BY src)
"""


# ---------------------------------------------------------------------------
# queries (Spark implementations)
# ---------------------------------------------------------------------------

def _q_degree(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.out_degrees().select("id", F.col("out_deg").alias("degree"))


def _q_triangle_total(spark, sf_dir):
    from okapi_spark.operators.triangles import triangles_df

    g = _graph(spark, sf_dir)
    return triangles_df(g).agg(F.count("*").alias("n_triangles"))


def _q_triangle_per_vertex(spark, sf_dir):
    from okapi_spark.operators.triangles import triangle_count_per_vertex

    g = _graph(spark, sf_dir)
    return triangle_count_per_vertex(g)


def _q_triangle_total_csr(spark, sf_dir):
    """Same exact count through the mode='csr' physical plan
    (triangles.py `_triangle_count_csr`: resident staged pivot-CSR +
    sorted membership-key blocks, wedges enumerated and probed inside
    one zero-exchange mapInPandas job — nothing wedge-sized is ever
    shuffled) — hash-checked against the same 3-way-join DuckDB
    oracle as triangle_total."""
    from okapi_spark.operators.triangles import triangle_count

    g = _graph(spark, sf_dir)
    n = triangle_count(g, mode="csr")
    return spark.createDataFrame([(n,)], "n_triangles long")


def _q_connected_components(spark, sf_dir):
    from okapi_spark.operators.components import connected_components

    g = _graph(spark, sf_dir)
    return connected_components(g).state


def _q_connected_components_csr(spark, sf_dir):
    """Same HashMin fixpoint through the mode='csr' physical plan
    (resident staged CSR blocks, plans/csr_blocks.py) — hash-checked
    against the same recursive-CTE DuckDB oracle."""
    from okapi_spark.operators.components import connected_components

    g = _graph(spark, sf_dir)
    return connected_components(g, mode="csr").state


def _q_connected_components_sql(spark, sf_dir):
    """Same HashMin fixpoint through the mode='sql' physical plan
    (broadcast frontier into the dst-partitioned scatter layout,
    plans/scatter.py); connected_components' default mode resolves to
    csr at this size, so this keeps the sql plan hash-checked against
    the same recursive-CTE DuckDB oracle."""
    from okapi_spark.operators.components import connected_components

    g = _graph(spark, sf_dir)
    return connected_components(g, mode="sql").state


def _q_pagerank10(spark, sf_dir):
    from okapi_spark.operators.pagerank import pagerank

    g = _graph(spark, sf_dir)
    res = pagerank(g, iterations=10)
    return res.state.select("id", F.round("rank", 9).alias("rank_r"))


def _q_pagerank10_sql(spark, sf_dir):
    """Same semantics as pagerank_10 through the mode='sql' physical
    plan (broadcast rank state into the dst-partitioned share join);
    pagerank_10's default mode resolves to csr at this size, so this
    keeps the sql plan hash-checked against the same unrolled oracle."""
    from okapi_spark.operators.pagerank import pagerank

    g = _graph(spark, sf_dir)
    res = pagerank(g, iterations=10, mode="sql")
    return res.state.select("id", F.round("rank", 9).alias("rank_r"))


def _q_lpa4(spark, sf_dir):
    from okapi_spark.operators.lpa import label_propagation

    g = _graph(spark, sf_dir)
    return label_propagation(g, iterations=4).state


def _q_lpa4_sql(spark, sf_dir):
    """Same semantics as lpa_4 through the mode='sql' physical plan
    (broadcast labels into the dst-partitioned scatter layout,
    plans/scatter.py); lpa_4's default mode resolves to csr at this
    size, so this keeps the sql plan hash-checked against the same
    unrolled DuckDB oracle."""
    from okapi_spark.operators.lpa import label_propagation

    g = _graph(spark, sf_dir)
    return label_propagation(g, iterations=4, mode="sql").state


def _q_lpa4_csr(spark, sf_dir):
    """Same semantics as lpa_4 through the mode='csr' physical plan
    (partition-local CSR gather-scatter, the north-rule kernel form) —
    hash-checked against the same unrolled DuckDB oracle."""
    from okapi_spark.operators.lpa import label_propagation

    g = _graph(spark, sf_dir)
    return label_propagation(g, iterations=4, mode="csr").state


def _q_sssp(spark, sf_dir):
    from okapi_spark.operators.sssp import sssp

    g = _graph(spark, sf_dir)
    src = g.edges.agg(F.min("src")).collect()[0][0]
    return sssp(g, int(src)).state


def _q_sssp_csr(spark, sf_dir):
    """Same relaxation fixpoint through the mode='csr' physical plan
    (resident staged CSR blocks) — same unrolled DuckDB oracle."""
    from okapi_spark.operators.sssp import sssp

    g = _graph(spark, sf_dir)
    src = g.edges.agg(F.min("src")).collect()[0][0]
    return sssp(g, int(src), mode="csr").state


def _q_jaccard(spark, sf_dir):
    from okapi_spark.operators.similarity import jaccard

    g = _graph(spark, sf_dir)
    return jaccard(g).select("u", "v", F.round("sim", 9).alias("sim"))


def _q_adamic_adar(spark, sf_dir):
    from okapi_spark.operators.similarity import adamic_adar

    g = _graph(spark, sf_dir)
    # 6-dp rounding: java Math.log and DuckDB ln differ by 1 ulp for
    # some degrees, so the sums differ at ~1e-14; the decimal sum in
    # adamic_adar makes each engine internally deterministic, and 6 dp
    # makes a boundary hit (~1e-14/1e-6 per row) vanishingly unlikely
    return adamic_adar(g).select("u", "v", F.round("aa", 6).alias("aa"))


def _q_clustering_coef(spark, sf_dir):
    from okapi_spark.operators.similarity import clustering_coefficient

    g = _graph(spark, sf_dir)
    return clustering_coefficient(g).select("id", F.round("coeff", 9).alias("coeff"))


def _q_kcore(spark, sf_dir):
    from okapi_spark.operators.kcore import kcore_vertices

    g = _graph(spark, sf_dir)
    return kcore_vertices(g, k=80)


def _q_mssp(spark, sf_dir):
    from okapi_spark.operators.sssp import mssp

    g = _graph(spark, sf_dir)
    srcs = [int(r.id) for r in g.vertices().orderBy("id").limit(3).collect()]
    return mssp(g, srcs).state.select("id", "origin", "dist")


def _q_mssp_csr(spark, sf_dir):
    """Same multi-source fixpoint through the mode='csr' physical plan
    (resident staged CSR blocks) — same unrolled DuckDB oracle."""
    from okapi_spark.operators.sssp import mssp

    g = _graph(spark, sf_dir)
    srcs = [int(r.id) for r in g.vertices().orderBy("id").limit(3).collect()]
    return mssp(g, srcs, mode="csr").state.select("id", "origin", "dist")


def _q_sybilrank(spark, sf_dir):
    from okapi_spark.operators.sybilrank import sybilrank

    g = _graph(spark, sf_dir)
    # trusted = the 5 smallest part ids; at sf0.01 n=2000 so the
    # reference's ceil(log10 n) power-iteration count is 4 — the
    # oracle unrolls exactly 4 (valid for 1000 < n <= 10000)
    trusted = g.vertices().orderBy("id").limit(5)
    res = sybilrank(g, trusted)
    return res.state.select("id", F.round("rank", 9).alias("rank_r"))


def _q_sybilrank_csr(spark, sf_dir):
    """Same degree-normalized trust fixpoint through the mode='csr'
    physical plan (resident staged CSR blocks — PageRank's kernel over
    the trust shares) — same unrolled DuckDB oracle."""
    from okapi_spark.operators.sybilrank import sybilrank

    g = _graph(spark, sf_dir)
    trusted = g.vertices().orderBy("id").limit(5)
    res = sybilrank(g, trusted, mode="csr")
    return res.state.select("id", F.round("rank", 9).alias("rank_r"))


def _q_bmatching(spark, sf_dir):
    from okapi_spark.operators.bmatching import max_b_matching

    # weighted co-purchase graph (weight = number of shared orders) so
    # the greedy matching has non-trivial weight ordering
    g = _weighted_graph(spark, sf_dir)
    caps = spark.createDataFrame([], "id long, capacity int")
    return max_b_matching(g, caps, default_capacity=1, max_rounds=3).select("u", "v", "weight")


def _weighted_graph(spark, sf_dir):
    from okapi_spark.graph.graph import Graph

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count("*").cast("double").alias("weight"))
    )
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    return Graph.from_edges(sym, symmetric_distinct=True)


def _q_semimetric(spark, sf_dir):
    from okapi_spark.operators.semimetric import semimetric_edges

    return semimetric_edges(_weighted_graph(spark, sf_dir))


def _q_spinner(spark, sf_dir):
    # full-protocol Spinner on the weighted co-purchase graph; the
    # migration protocol (hash uniforms, remaining/demand damping) is
    # not practically SQL-expressible, so the oracle is a pinned-seed
    # golden snapshot (goldens/; partitioning-invariance in
    # tests/test_golden_invariance.py); protocol invariants are
    # pytest-covered (tests/test_lpa.py)
    from okapi_spark.operators.lpa import spinner_partition

    res = spinner_partition(_weighted_graph(spark, sf_dir), k=8, max_iterations=8, seed=5)
    return res.state.select("id", "part")


def _q_spinner_csr(spark, sf_dir):
    """Same full Spinner protocol through the mode='csr' physical plan
    (the two |E|-scale jobs per round run over resident staged CSR
    blocks; all |V|-scale scoring/migration SQL is shared with
    mode='sql') — bit-identical to the spinner_8 golden, so it is
    checked against the SAME ref_impl-verified snapshot."""
    from okapi_spark.operators.lpa import spinner_partition

    res = spinner_partition(
        _weighted_graph(spark, sf_dir), k=8, max_iterations=8, seed=5, mode="csr"
    )
    return res.state.select("id", "part")


def _q_kmeans(spark, sf_dir):
    from okapi_spark.operators.kmeans import kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pts = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("features")
    )
    init = [list(r.features) for r in pts.orderBy("id").limit(4).collect()]
    assigned, _ = kmeans(pts, k=4, max_iterations=2, tol=0.0, init_centers=init)
    return assigned.select("id", F.col("cluster").cast("int").alias("cluster"))


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings / events views)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_doc_stats(spark, sf_dir):
    from okapi_spark.functions.text import doc_stats

    return doc_stats(_docs(spark, sf_dir))


def _q_exact_dup_groups(spark, sf_dir):
    from okapi_spark.functions.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir)).select("fingerprint", "n_dups", "keep_id")


def _q_minhash_dups(spark, sf_dir):
    from okapi_spark.functions.dedup import minhash_lsh_duplicates

    return minhash_lsh_duplicates(
        _docs(spark, sf_dir), n=3, num_hashes=8, bands=4, threshold=0.4
    )


def _q_simhash(spark, sf_dir):
    from okapi_spark.functions.dedup import simhash16

    return simhash16(_docs(spark, sf_dir))


def _q_embed_knn(spark, sf_dir):
    from okapi_spark.functions.simsearch import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries_df, k=10)


def _q_ngram_jaccard(spark, sf_dir):
    from okapi_spark.functions.dedup import ngram_jaccard_pairs

    # exact (no LSH recall loss) n-gram Jaccard near-dup pairs, blocked
    # on the shared-shingle postings join — lower threshold than the
    # minhash entry so both paths are exercised independently.
    # max_doc_freq=None: the oracle SQL has no df cap, so the engine
    # must run uncapped too (the default cap only matters at larger sf
    # and would make the gate spuriously diverge there)
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.3, max_doc_freq=None)


def _q_cosine_near_dups(spark, sf_dir):
    from okapi_spark.functions.simsearch import cosine_near_dups

    # exact brute-force path = the oracle tier; the LSH-bucketed scale
    # path is pytest-verified equal to this at the same threshold
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_near_dups(emb, threshold=0.45, method="exact")


def _ratings(spark, sf_dir):
    """(user, item, rating) derived from orders ⋈ lineitem — the CF
    input shape (cf/CfLongIdFloatTextInputFormat.java:36 analogue)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_partkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item"))
        .agg(F.count("*").cast("double").alias("rating"))
    )


def _q_popularity(spark, sf_dir):
    from okapi_spark.operators.ranking import popularity_ranking

    # PopularityRankingComputation.java:44-68 — item score = #raters
    _, itf = popularity_ranking(_ratings(spark, sf_dir))
    return itf.select("id", F.element_at("factors", 1).alias("pop"))


def _q_als(spark, sf_dir):
    # ALS matrix factorization (cf/als/Als.java:51-285) on the derived
    # ratings, through the REAL distributed per-vertex solve
    # (applyInPandas), oracled exactly: at vector_size=1 the solve
    # (M·Mᵀ + λ|R|I)u = M·R degenerates to grouped sums, so two
    # alternating iterations unroll into four SQL aggregations.
    # The deterministic explicit item init replaces the hash-uniform
    # default (the reference's unseeded Random, Als.java:169-172) so
    # DuckDB can reproduce it; the 3-D solve path keeps its own golden
    # check against the reference factors (AlsTest.java:32-63) in
    # tests/test_cf.py.
    from okapi_spark.operators.cf import als

    ratings = _ratings(spark, sf_dir)
    init = (
        ratings.select(F.col("item").alias("id")).distinct()
        .select("id", F.array(F.lit(0.01) * (F.col("id") % 997) / 997.0).alias("factors"))
    )
    _, itf, _ = als(ratings, vector_size=1, iterations=2, init_item_factors=init,
                    track_rmse=False)
    return itf.select("id", F.round(F.element_at("factors", 1), 6).alias("f0"))


def _q_precision_at_5(spark, sf_dir):
    # Precision@5 protocol (cf/eval/RankEvaluationComputation.java:43-172)
    # for the popularity model, under the EXHAUSTIVE candidate pool
    # (num_samples=None: every unconnected item is a negative) — the
    # deterministic, SQL-expressible oracle tier; per-user p values are
    # exact multiples of 1/5 so rows compare exactly. The sampled
    # protocol (100 xxhash64-drawn negatives — the scale path) is
    # pytest-verified (Pop ≫ Random) in tests/test_svdpp_ranking.py.
    from okapi_spark.operators.cf import precision_at_k_per_user
    from okapi_spark.operators.ranking import popularity_ranking

    ratings = _ratings(spark, sf_dir).persist()
    uf, itf = popularity_ranking(ratings)
    relevant = ratings.filter(F.col("rating") >= 2.0).select("user", "item")
    per_user = precision_at_k_per_user(
        uf, itf, relevant, k=5, num_samples=None, rated=ratings
    )
    return per_user.select(F.col("user").alias("user_id"), F.col("p").alias("p5"))


def _q_svdpp(spark, sf_dir):
    # SVD++ (cf/svd/Svdpp.java:48-567) — baseline+factor+weight state;
    # the per-vertex sequential fold is not SQL-expressible, so the
    # oracle is a PINNED-SEED GOLDEN SNAPSHOT (goldens/, see
    # scripts/make_goldens.py) rendered as a VALUES table: a hard hash
    # check against the recorded output, which pytest verifies is
    # partitioning-invariant (tests/test_golden_invariance.py); the
    # update/predict formulas are additionally pytest-verified against
    # the reference's golden unit values (SvdppTest.java:43-138)
    from okapi_spark.operators.svdpp import svdpp

    _, itf, _ = svdpp(_ratings(spark, sf_dir), vector_size=3, iterations=1)
    return itf.select("id", F.round("baseline", 6).alias("baseline"))


def _q_semicluster(spark, sf_dir):
    # Pregel-paper semi-clustering (graphs/SemiClustering.java:61-495):
    # set-valued vertex state → pinned-seed golden snapshot oracle
    # (goldens/; partitioning-invariance in
    # tests/test_golden_invariance.py); golden behavior additionally
    # pytest-verified in tests/test_semiclustering.py
    from okapi_spark.operators.semiclustering import semi_clustering

    out = semi_clustering(_weighted_graph(spark, sf_dir), iterations=2)
    return out.select(
        "id", F.size("clusters").alias("n_clusters"),
        F.round(F.element_at("clusters", 1)["score"], 6).alias("best_score"),
    )


def _q_jaccard_minhash(spark, sf_dir):
    # Approximate per-edge Jaccard via MinHash (the engine's documented
    # stand-in for the reference's Bloom-filter approximation,
    # Jaccard.java:212-243; similarity.py jaccard_approx docstring).
    # Hash-derived sketch → not SQL-expressible in DuckDB → pinned-seed
    # golden snapshot oracle, independently recomputed by
    # ref_impl.ref_jaccard_minhash (make_goldens refuses a mismatch).
    # Output = per-vertex aggregate (incident-edge count, Σ 16·sim):
    # sims are k/16 so the sums are exact integers — an
    # order-insensitive, full-coverage checksum of every edge's sim.
    from okapi_spark.operators.similarity import jaccard_approx

    g = _graph(spark, sf_dir)
    sims = jaccard_approx(g, num_hashes=16)
    both = sims.select(F.col("u").alias("id"), "sim").unionByName(
        sims.select(F.col("v").alias("id"), "sim")
    )
    return both.groupBy("id").agg(
        F.count("*").alias("n_edges"),
        F.sum((F.col("sim") * F.lit(16.0)).cast("long")).alias("sum_sim16"),
    )


def _q_random_rank(spark, sf_dir):
    # RandomRankingComputation.java:51-62 — the evaluation floor; the
    # engine's deterministic hash-uniform stand-in for the unseeded
    # worker-side RNG.  xxhash64-derived → golden snapshot oracle,
    # independently recomputed by ref_impl.ref_random_ranking.
    from okapi_spark.operators.ranking import random_ranking

    _, itf = random_ranking(_ratings(spark, sf_dir), vector_size=4)
    return itf.select(
        "id", *[F.element_at("factors", i + 1).alias(f"f{i}") for i in range(4)]
    )


def _rank_item_out(itf):
    """(id, f0, f1) rounded 6dp — the shared gate projection for the
    2-D factor-model golden entries."""
    return itf.select(
        "id",
        F.round(F.element_at("factors", 1), 6).alias("f0"),
        F.round(F.element_at("factors", 2), 6).alias("f1"),
    )


def _q_sgd(spark, sf_dir):
    # SGD MF (cf/sgd/Sgd.java:162-192) — per-vertex sequential fold in
    # deterministic counterpart-id order: not SQL-expressible → golden
    # snapshot oracle + independent recomputation (ref_impl.ref_sgd);
    # update-rule values additionally pytest-pinned (tests/test_cf.py).
    from okapi_spark.operators.cf import sgd

    _, itf, _ = sgd(_ratings(spark, sf_dir), vector_size=2, iterations=2,
                    track_rmse=False)
    return _rank_item_out(itf)


def _q_bpr(spark, sf_dir):
    # BPR (cf/ranking/BPRRankingComputation.java:25-60) — hash-drawn
    # negatives + batch-accumulated AUC gradient: golden snapshot
    # oracle + independent recomputation (ref_impl.ref_bpr).
    from okapi_spark.operators.ranking import bpr_ranking

    _, itf = bpr_ranking(_ratings(spark, sf_dir), vector_size=2, iterations=2)
    return _rank_item_out(itf)


def _q_climf(spark, sf_dir):
    # CLiMF (ClimfRankingComputation.java:59-133; paper gradient per
    # the documented intended-math fixes) — golden snapshot oracle +
    # independent recomputation (ref_impl.ref_climf).
    from okapi_spark.operators.ranking import climf_ranking

    _, itf = climf_ranking(_ratings(spark, sf_dir), vector_size=2, iterations=2)
    return _rank_item_out(itf)


def _q_tfmap(spark, sf_dir):
    # TFMAP (TFMAPRankingComputation.java:43-148) — relevant + sampled
    # irrelevant buffer, smoothed-MAP gradient — golden snapshot oracle
    # + independent recomputation (ref_impl.ref_tfmap).
    from okapi_spark.operators.ranking import tfmap_ranking

    _, itf = tfmap_ranking(_ratings(spark, sf_dir), vector_size=2, iterations=2)
    return _rank_item_out(itf)


def _q_lang_id(spark, sf_dir):
    from okapi_spark.functions.text import lang_id

    return _docs(spark, sf_dir).select("doc_id", lang_id(F.col("text")).alias("lang"))


def _q_token_counts(spark, sf_dir):
    from okapi_spark.functions.text import bpe_ish_token_count, token_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


def _q_sessionize(spark, sf_dir):
    from okapi_spark.functions.sessions import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(ev, gap_minutes=30)
    return out.select(
        "user_id", "session_id", "n_events",
        F.round(F.col("started").cast("timestamp").cast("double"), 6).alias("started_s"),
        F.round(F.col("ended").cast("timestamp").cast("double"), 6).alias("ended_s"),
        "total_value",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # link-graph suite (flagship four + friends)
        "degree": _q_degree,
        "triangle_total": _q_triangle_total,
        "triangle_total_csr": _q_triangle_total_csr,
        "triangle_per_vertex": _q_triangle_per_vertex,
        "connected_components": _q_connected_components,
        "connected_components_csr": _q_connected_components_csr,
        "connected_components_sql": _q_connected_components_sql,
        "pagerank_10": _q_pagerank10,
        "pagerank_10_sql": _q_pagerank10_sql,
        "lpa_4": _q_lpa4,
        "lpa_4_csr": _q_lpa4_csr,
        "lpa_4_sql": _q_lpa4_sql,
        "sssp_hops": _q_sssp,
        "sssp_hops_csr": _q_sssp_csr,
        "mssp_hops": _q_mssp,
        "mssp_hops_csr": _q_mssp_csr,
        "sybilrank_4": _q_sybilrank,
        "sybilrank_4_csr": _q_sybilrank_csr,
        "bmatching_3": _q_bmatching,
        "kmeans_2": _q_kmeans,
        "semimetric": _q_semimetric,
        "spinner_8": _q_spinner,  # oracle: pinned-seed golden snapshot
        "spinner_8_csr": _q_spinner_csr,  # same golden (bit-identical protocol)
        "jaccard": _q_jaccard,
        "adamic_adar": _q_adamic_adar,
        "clustering_coef": _q_clustering_coef,
        "kcore_80": _q_kcore,
        # training-data pipeline suite
        "doc_stats": _q_doc_stats,
        "exact_dup_groups": _q_exact_dup_groups,
        "minhash_lsh_dups": _q_minhash_dups,
        "simhash16": _q_simhash,
        "embed_cosine_topk": _q_embed_knn,
        "sessionize": _q_sessionize,
        "ngram_jaccard": _q_ngram_jaccard,
        "cosine_near_dups": _q_cosine_near_dups,
        "popularity_rank": _q_popularity,
        "lang_id": _q_lang_id,
        "token_counts": _q_token_counts,
        "als_2": _q_als,  # oracle: unrolled 1-D solve SQL
        "precision_at_5_pop": _q_precision_at_5,  # oracle: exhaustive-pool SQL
        "svdpp_1": _q_svdpp,  # oracle: pinned-seed golden snapshot
        "semicluster_2": _q_semicluster,  # oracle: pinned-seed golden snapshot
        # round-5 additions — the previously pytest-only operators, all
        # golden-snapshot oracles backed by ref_impl recomputations
        "jaccard_minhash": _q_jaccard_minhash,
        "random_rank": _q_random_rank,
        "sgd_2": _q_sgd,
        "bpr_2": _q_bpr,
        "climf_2": _q_climf,
        "tfmap_2": _q_tfmap,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _pagerank_sql(iters: int = 10) -> str:
    ctes = [
        "nv AS (SELECT COUNT(*) AS n FROM verts)",
        "r0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS rank FROM verts)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT v.id, 0.15/(SELECT n FROM nv) + 0.85*COALESCE(m.s, 0.0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / d.degree) AS s
    FROM edges e JOIN r{i-1} r ON e.src = r.id JOIN deg d ON e.src = d.id
    GROUP BY e.dst
  ) m ON v.id = m.id
)"""
        )
    return (
        "WITH " + _EDGES_CTE + ", " + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(rank, 9) AS rank_r FROM r{iters}"
    )


def _lpa_sql(iters: int = 4) -> str:
    ctes = ["l0 AS (SELECT id, id AS lbl FROM verts)"]
    for i in range(1, iters + 1):
        ctes.append(
            f"""h{i} AS (
  SELECT e.dst AS id, l.lbl, COUNT(*) AS w
  FROM edges e JOIN l{i-1} l ON e.src = l.id GROUP BY e.dst, l.lbl
),
b{i} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY w DESC, lbl ASC) AS rn
    FROM h{i}
  ) WHERE rn = 1
),
l{i} AS (
  SELECT p.id, COALESCE(b{i}.lbl, p.lbl) AS lbl
  FROM l{i-1} p LEFT JOIN b{i} ON p.id = b{i}.id
)"""
        )
    return "WITH " + _EDGES_CTE + ", " + ",\n".join(ctes) + f"\nSELECT id, lbl FROM l{iters}"


def _sssp_sql(iters: int = 6) -> str:
    ctes = ["d0 AS (SELECT (SELECT MIN(src) FROM edges) AS id, 0.0 AS dist)"]
    for i in range(1, iters + 1):
        ctes.append(
            f"""d{i} AS (
  SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM d{i-1}
    UNION ALL
    SELECT e.dst AS id, d.dist + 1.0 AS dist FROM edges e JOIN d{i-1} d ON e.src = d.id
  ) GROUP BY id
)"""
        )
    return "WITH " + _EDGES_CTE + ", " + ",\n".join(ctes) + f"\nSELECT id, dist FROM d{iters}"


def _mssp_sql(iters: int = 8, n_sources: int = 3) -> str:
    ctes = [
        f"""d0 AS MATERIALIZED (
  SELECT id, id AS origin, 0.0 AS dist
  FROM (SELECT id FROM verts ORDER BY id LIMIT {n_sources})
)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT id, origin, MIN(dist) AS dist FROM (
    SELECT id, origin, dist FROM d{i-1}
    UNION ALL
    SELECT e.dst AS id, d.origin, d.dist + 1.0 AS dist
    FROM edges e JOIN d{i-1} d ON e.src = d.id
  ) GROUP BY id, origin
)"""
        )
    return (
        "WITH " + _EDGES_CTE + ", " + ",\n".join(ctes)
        + f"\nSELECT id, origin, dist FROM d{iters}"
    )


def _sybilrank_sql(iters: int = 4, n_trusted: int = 5) -> str:
    # totalTrust = N, trusted seeds get N/|T|; share = w/deg = 1/degree
    # on the unit-weight co-purchase graph (SybilRank.java:125-189)
    ctes = [
        "nv AS (SELECT COUNT(*) AS n FROM verts)",
        f"tr AS (SELECT id FROM verts ORDER BY id LIMIT {n_trusted})",
        f"""r0 AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN t.id IS NOT NULL THEN (SELECT n FROM nv)::DOUBLE / {n_trusted}
              ELSE 0.0 END AS send
  FROM verts v LEFT JOIN tr t ON v.id = t.id
)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT v.id, COALESCE(m.s, 0.0) AS send
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, SUM(r.send / d.degree) AS s
    FROM edges e JOIN r{i-1} r ON e.src = r.id JOIN deg d ON e.src = d.id
    GROUP BY e.dst
  ) m ON v.id = m.id
)"""
        )
    return (
        "WITH " + _EDGES_CTE + ", " + ",\n".join(ctes)
        + f"""
SELECT r.id, ROUND(r.send / d.degree, 9) AS rank_r
FROM r{iters} r JOIN deg d ON r.id = d.id"""
    )


def _bmatching_sql(rounds: int = 3) -> str:
    # greedy b-matching with b=1 over the weighted co-purchase graph:
    # per round each vertex proposes its max-weight incident edge
    # (tie -> smallest neighbor), mutual proposals match, matched
    # vertices are saturated and their edges removed (MaxBMatching
    # semantics with unit capacity)
    ctes = [
        """ew AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)""",
        "e1 AS MATERIALIZED (SELECT * FROM ew)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""i{r} AS (
  SELECT u AS me, v AS other, w FROM e{r}
  UNION ALL
  SELECT v AS me, u AS other, w FROM e{r}
),
t{r} AS (
  SELECT me, other FROM (
    SELECT me, other, ROW_NUMBER() OVER (PARTITION BY me ORDER BY w DESC, other ASC) AS rn
    FROM i{r}
  ) WHERE rn = 1
),
m{r} AS MATERIALIZED (
  SELECT a.me AS u, a.other AS v FROM t{r} a
  JOIN t{r} b ON a.me = b.other AND a.other = b.me
  WHERE a.me < a.other
),
s{r} AS (SELECT u AS id FROM m{r} UNION SELECT v AS id FROM m{r}),
e{r+1} AS MATERIALIZED (
  SELECT e.* FROM e{r} e
  WHERE e.u NOT IN (SELECT id FROM s{r}) AND e.v NOT IN (SELECT id FROM s{r})
)"""
        )
    matched = " UNION ALL ".join(f"SELECT u, v FROM m{r}" for r in range(1, rounds + 1))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT m.u, m.v, ew.w AS weight FROM ({matched}) m JOIN ew ON ew.u = m.u AND ew.v = m.v"
    )


_SEMIMETRIC_SQL = """
WITH ew AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c, e1.w AS wab, e2.w AS wbc, e3.w AS wac
  FROM ew e1 JOIN ew e2 ON e1.v = e2.u
  JOIN ew e3 ON e3.u = e1.u AND e3.v = e2.v
),
viol AS (
  SELECT a AS u, b AS v FROM tri WHERE wab > wbc + wac
  UNION SELECT b, c FROM tri WHERE wbc > wab + wac
  UNION SELECT a, c FROM tri WHERE wac > wab + wbc
)
SELECT v.u, v.v, ew.w FROM viol v JOIN ew ON ew.u = v.u AND ew.v = v.v
"""


def _kmeans_sql(iters: int = 2, k: int = 4, dim: int = 64) -> str:
    # Lloyd iterations over the exploded (id, dim, val) form; initial
    # centers = the k smallest vec_ids in id order (cluster index =
    # rank); empty clusters keep their previous center. dim=64 matches
    # the testdata embeddings at every sf.
    ctes = [
        f"""p AS MATERIALIZED (
  SELECT vec_id AS id, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, (SELECT UNNEST(range(1, {dim + 1})) AS i) dims
)""",
        f"""c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (PARTITION BY dim ORDER BY id) - 1 AS INT) AS cl, dim, val
  FROM p WHERE id IN (SELECT id FROM (SELECT DISTINCT id FROM p ORDER BY id LIMIT {k}))
)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""dd{i} AS (
  SELECT p.id, c.cl, SUM((p.val - c.val) * (p.val - c.val)) AS d2
  FROM p JOIN c{i-1} c ON p.dim = c.dim
  GROUP BY p.id, c.cl
),
a{i} AS MATERIALIZED (
  SELECT id, cl FROM (
    SELECT id, cl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2 ASC, cl ASC) AS rn
    FROM dd{i}
  ) WHERE rn = 1
)"""
        )
        if i < iters:
            ctes.append(
                f"""cm{i} AS (
  SELECT a.cl, p.dim, SUM(p.val) / COUNT(*) AS val
  FROM a{i} a JOIN p ON p.id = a.id GROUP BY a.cl, p.dim
),
c{i} AS MATERIALIZED (
  SELECT c.cl, c.dim, COALESCE(m.val, c.val) AS val
  FROM c{i-1} c LEFT JOIN cm{i} m ON m.cl = c.cl AND m.dim = c.dim
)"""
            )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, cl AS cluster FROM a{iters}"


_PUNCT_RE = r"""[^.,;:!?'"()\[\]{}-]"""

_DOC_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tkl,
         CASE WHEN LENGTH(text) > 0
              THEN LENGTH(regexp_replace(text, '{_PUNCT_RE.replace("'", "''")}', '', 'g'))::DOUBLE / LENGTH(text)
              ELSE 0.0 END AS praw
  FROM documents
)
SELECT doc_id,
  LENGTH(text) AS n_chars,
  len(tk) AS n_tokens,
  ROUND(praw, 9) AS punct_ratio,
  ROUND(CASE WHEN len(tkl) > 0
        THEN len(list_filter(tkl, x -> x IN ('the','and','of','to','in','is','that','for')))::DOUBLE / len(tkl)
        ELSE 0.0 END, 9) AS stopword_ratio_en,
  ROUND(((CASE WHEN LENGTH(text) BETWEEN 64 AND 100000 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN len(tk) > 0 AND (LENGTH(text)::DOUBLE / len(tk)) >= 2.5
                AND (LENGTH(text)::DOUBLE / len(tk)) <= 12.0 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN praw <= 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 9) AS quality,
  sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM toks
"""

_EXACT_DUP_SQL = """
WITH fp AS (
  SELECT doc_id, sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT fingerprint, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
FROM fp GROUP BY fingerprint HAVING COUNT(*) >= 2
"""

# shared shingle postings (word trigrams, Spark shingles() parity)
_SHINGLES_CTE = """
tk AS (
  SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT t.id,
         array_to_string(t.toks[g.i : least(g.i + 2, len(t.toks))], ' ') AS shingle
  FROM tk t, LATERAL (SELECT UNNEST(range(1, greatest(len(t.toks) - 3, 0) + 2)) AS i) g
  WHERE len(t.toks) > 0
    AND LENGTH(array_to_string(t.toks[g.i : least(g.i + 2, len(t.toks))], ' ')) > 0
)
"""

_MINHASH_SQL = (
    "WITH " + _SHINGLES_CTE + """,
sig AS (
  SELECT id,
    MIN(md5(shingle || '#0')) AS h0, MIN(md5(shingle || '#1')) AS h1,
    MIN(md5(shingle || '#2')) AS h2, MIN(md5(shingle || '#3')) AS h3,
    MIN(md5(shingle || '#4')) AS h4, MIN(md5(shingle || '#5')) AS h5,
    MIN(md5(shingle || '#6')) AS h6, MIN(md5(shingle || '#7')) AS h7
  FROM sh GROUP BY id
),
buck AS (
  SELECT id, 0 AS band, md5(h0 || '|' || h1) AS bucket FROM sig
  UNION ALL SELECT id, 1, md5(h2 || '|' || h3) FROM sig
  UNION ALL SELECT id, 2, md5(h4 || '|' || h5) FROM sig
  UNION ALL SELECT id, 3, md5(h6 || '|' || h7) FROM sig
),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM buck l JOIN buck r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS common
  FROM cand c JOIN sh pa ON pa.id = c.a JOIN sh pb ON pb.id = c.b AND pb.shingle = pa.shingle
  GROUP BY c.a, c.b
),
scored AS (
  SELECT c.a, c.b,
         ROUND(COALESCE(i.common, 0)::DOUBLE / (sa.sz + sb.sz - COALESCE(i.common, 0)), 9) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes sa ON sa.id = c.a JOIN sizes sb ON sb.id = c.b
)
SELECT a, b, jaccard FROM scored WHERE jaccard >= 0.4"""
)

_SIMHASH_BITS = "\n".join(
    f"    SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b},"
    for b in range(16)
).rstrip(",")

_SIMHASH_SQL = f"""
WITH t AS (
  SELECT doc_id AS id,
         UNNEST(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
  FROM documents
),
h AS (SELECT id, CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) AS th FROM t),
s AS (
  SELECT id,
{_SIMHASH_BITS}
  FROM h GROUP BY id
)
SELECT id,
  CAST({' + '.join(f'(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)' for b in range(16))} AS INTEGER) AS simhash
FROM s
"""

_EMBED_KNN_SQL = """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, d.vec_id,
         ROUND(
           list_sum(list_transform(range(1, len(d.v) + 1), i -> d.v[i] * q.qv[i]))
           / (sqrt(list_sum(list_transform(d.v, x -> x * x)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 9) AS sim
  FROM d, q WHERE d.vec_id <> q.query_id
)
SELECT query_id, vec_id, sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 10
"""

_NGRAM_JACCARD_SQL = (
    "WITH " + _SHINGLES_CTE + """,
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.id < r.id
),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS common
  FROM cand c JOIN sh pa ON pa.id = c.a JOIN sh pb ON pb.id = c.b AND pb.shingle = pa.shingle
  GROUP BY c.a, c.b
)
SELECT a, b, jaccard FROM (
  SELECT c.a, c.b,
         ROUND(COALESCE(i.common, 0)::DOUBLE / (sa.sz + sb.sz - COALESCE(i.common, 0)), 9) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes sa ON sa.id = c.a JOIN sizes sb ON sb.id = c.b
) WHERE jaccard >= 0.3"""
)

_COSINE_NEAR_DUPS_SQL = """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a, b, sim FROM (
  SELECT l.vec_id AS a, r.vec_id AS b,
         ROUND(
           list_sum(list_transform(range(1, len(l.v) + 1), i -> l.v[i] * r.v[i]))
           / (sqrt(list_sum(list_transform(l.v, x -> x * x)))
              * sqrt(list_sum(list_transform(r.v, x -> x * x)))), 9) AS sim
  FROM d l JOIN d r ON l.vec_id < r.vec_id
) WHERE sim >= 0.45
"""

_POPULARITY_SQL = """
WITH r AS (
  SELECT o.o_custkey AS usr, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)
SELECT item AS id, CAST(COUNT(*) AS DOUBLE) AS pop FROM r GROUP BY item
"""

# (usr, item, rating=#shared order lines) — mirrors _ratings()
_RATINGS_CTE = """
ratings AS (
  SELECT o.o_custkey AS usr, l.l_partkey AS item, CAST(COUNT(*) AS DOUBLE) AS rating
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)"""

# 1-D ALS, two alternating iterations unrolled: at vector_size=1 the
# per-vertex normal-equation solve (M·Mᵀ + λ|R|I)u = M·R is
# Σ(r·q)/(Σq² + λ·n) — a grouped aggregation per half-step. Item init
# mirrors the Spark entry's explicit deterministic init exactly.
_ALS_SQL = (
    "WITH " + _RATINGS_CTE + """,
itf0 AS (SELECT DISTINCT item AS id, 0.01 * (item % 997) / 997.0 AS q FROM ratings),
uf1 AS (
  SELECT r.usr, SUM(r.rating * i.q) / (SUM(i.q * i.q) + 0.01 * COUNT(*)) AS p
  FROM ratings r JOIN itf0 i ON r.item = i.id GROUP BY r.usr
),
itf1 AS (
  SELECT r.item AS id, SUM(r.rating * u.p) / (SUM(u.p * u.p) + 0.01 * COUNT(*)) AS q
  FROM ratings r JOIN uf1 u ON r.usr = u.usr GROUP BY r.item
),
uf2 AS (
  SELECT r.usr, SUM(r.rating * i.q) / (SUM(i.q * i.q) + 0.01 * COUNT(*)) AS p
  FROM ratings r JOIN itf1 i ON r.item = i.id GROUP BY r.usr
),
itf2 AS (
  SELECT r.item AS id, SUM(r.rating * u.p) / (SUM(u.p * u.p) + 0.01 * COUNT(*)) AS q
  FROM ratings r JOIN uf2 u ON r.usr = u.usr GROUP BY r.item
)
SELECT id, ROUND(q, 6) AS f0 FROM itf2"""
)

# Precision@5 for the popularity model under the exhaustive candidate
# pool: relevant test items (rating >= 2) + every unconnected item,
# ranked by item popularity (ties -> smaller item id first).
_P5_SQL = (
    "WITH " + _RATINGS_CTE + """,
pop AS (SELECT item AS id, CAST(COUNT(*) AS DOUBLE) AS score FROM ratings GROUP BY item),
rel AS (SELECT usr, item FROM ratings WHERE rating >= 2.0),
eusers AS (SELECT DISTINCT usr FROM rel),
pool AS (
  SELECT usr, item, TRUE AS is_rel FROM rel
  UNION ALL
  SELECT u.usr, p.id AS item, FALSE AS is_rel
  FROM eusers u CROSS JOIN pop p
  WHERE NOT EXISTS (SELECT 1 FROM ratings c WHERE c.usr = u.usr AND c.item = p.id)
),
ranked AS (
  SELECT pool.usr, pool.is_rel,
         ROW_NUMBER() OVER (PARTITION BY pool.usr ORDER BY p.score DESC, pool.item ASC) AS rn
  FROM pool JOIN pop p ON pool.item = p.id
)
SELECT usr AS user_id, SUM(CASE WHEN is_rel THEN 1 ELSE 0 END) / 5.0 AS p5
FROM ranked WHERE rn <= 5 GROUP BY usr"""
)


# ---------------------------------------------------------------------------
# pinned-seed golden-snapshot oracles
#
# For the three gate queries whose semantics genuinely aren't
# SQL-expressible (SVD++'s per-vertex sequential fold, Spinner's
# migration protocol, semi-clustering's set-valued state), the oracle
# is a golden snapshot of the deterministic pinned-seed output at the
# gate's sf, recorded ONCE by scripts/make_goldens.py into goldens/
# and rendered here as a VALUES table. Its integrity rests on three
# legs: (1) the partitioning-invariance tests
# (tests/test_golden_invariance.py: identical output at 8 vs 32
# shuffle partitions), (2) the per-operator reference-golden unit
# tests cited in each query's docstring, and (3) an INDEPENDENT
# sequential recomputation (tests/ref_impl.py — pure Python/NumPy
# written from the reference Java semantics, no engine code):
# tests/test_independent_oracles.py asserts engine ≡ recomputation at
# this sf, and make_goldens.py refuses to record a snapshot that
# disagrees with it — so a recorded-in engine bug cannot persist. If
# the snapshot file is absent the entry falls back to the rows-only
# check (oracle omitted).
# ---------------------------------------------------------------------------

_GOLDEN_NAMES = (
    "svdpp_1", "spinner_8", "semicluster_2",
    # round 5: the formerly pytest-only operators
    "jaccard_minhash", "random_rank", "sgd_2", "bpr_2", "climf_2", "tfmap_2",
)


def _load_goldens() -> dict:
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "goldens", "goldens_sf0.01.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _golden_sql(golden: dict) -> str:
    duck_type = {int: "BIGINT", float: "DOUBLE", str: "VARCHAR", bool: "BOOLEAN"}

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            return repr(v)  # shortest round-trip repr parses to the identical double
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    cols = golden["columns"]
    # infer per-column types from the first non-null value
    types = []
    for i in range(len(cols)):
        t = "DOUBLE"
        for row in golden["rows"]:
            if row[i] is not None:
                t = duck_type[type(row[i])]
                break
        types.append(t)
    values = ",\n".join("(" + ", ".join(lit(v) for v in row) + ")" for row in golden["rows"])
    casts = ", ".join(
        f"CAST({c} AS {t}) AS {c}" for c, t in zip(cols, types)
    )
    return f"SELECT {casts} FROM (VALUES\n{values}\n) AS t({', '.join(cols)})"

_LANG_ID_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tkl
  FROM documents
),
hits AS (
  SELECT doc_id, lang, nhits FROM toks, LATERAL (
    SELECT * FROM (VALUES
      ('en', len(list_filter(tkl, x -> x IN ('the','and','of','to','in','is','that','for')))),
      ('de', len(list_filter(tkl, x -> x IN ('der','die','und','das','nicht','ist','ein','zu')))),
      ('fr', len(list_filter(tkl, x -> x IN ('le','la','les','et','des','est','une','dans')))),
      ('es', len(list_filter(tkl, x -> x IN ('el','los','las','que','una','por','para','con'))))
    ) t(lang, nhits)
  )
)
SELECT doc_id, CASE WHEN nhits > 0 THEN lang ELSE 'und' END AS lang FROM (
  SELECT doc_id, lang, nhits,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY nhits DESC, lang DESC) AS rn
  FROM hits
) WHERE rn = 1
"""

_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
  len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
FROM documents
"""

_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM e
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       ROUND(MIN(epoch(ts)), 6) AS started_s,
       ROUND(MAX(epoch(ts)), 6) AS ended_s,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 9))), 9) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_id
"""


_SIM_CTE = """
adj AS (SELECT DISTINCT src, dst FROM edges),
degj AS (SELECT src AS id, COUNT(*) AS deg FROM adj GROUP BY src),
linked AS (SELECT src AS u, dst AS v FROM adj WHERE src < dst),
cn AS (
  SELECT a.src AS u, b.src AS v, COUNT(*) AS common
  FROM adj a JOIN adj b ON a.dst = b.dst AND a.src < b.src
  JOIN linked l ON l.u = a.src AND l.v = b.src
  GROUP BY a.src, b.src
)
"""

_JACCARD_SQL = (
    "WITH " + _EDGES_CTE + ", " + _SIM_CTE.strip().lstrip() + """
SELECT l.u, l.v,
       ROUND(COALESCE(c.common, 0)::DOUBLE / (du.deg + dv.deg - COALESCE(c.common, 0)), 9) AS sim
FROM linked l
LEFT JOIN cn c ON c.u = l.u AND c.v = l.v
JOIN degj du ON du.id = l.u JOIN degj dv ON dv.id = l.v"""
)

_AA_SQL = (
    "WITH " + _EDGES_CTE + """,
adj AS (SELECT DISTINCT src, dst FROM edges),
degj AS (SELECT src AS id, COUNT(*) AS deg FROM adj GROUP BY src),
linked AS (SELECT src AS u, dst AS v FROM adj WHERE src < dst),
aa AS (
  SELECT a.src AS u, b.src AS v,
         CAST(SUM(CAST(ln(1.0 / d.deg) AS DECIMAL(38, 18))) AS DOUBLE) AS s
  FROM adj a JOIN adj b ON a.dst = b.dst AND a.src < b.src
  JOIN linked l ON l.u = a.src AND l.v = b.src
  JOIN degj d ON d.id = a.dst
  GROUP BY a.src, b.src
)
SELECT l.u, l.v, ROUND(COALESCE(aa.s, 0.0), 6) AS aa
FROM linked l LEFT JOIN aa ON aa.u = l.u AND aa.v = l.v"""
)

_COEF_SQL = (
    "WITH " + _EDGES_CTE + """,
adj AS (SELECT DISTINCT src, dst FROM edges),
degj AS (SELECT src AS id, COUNT(*) AS deg FROM adj GROUP BY src),
tri AS (
  SELECT e1.src AS low, e1.dst AS mid, e2.dst AS high
  FROM e0 e1 JOIN e0 e2 ON e1.dst = e2.src
  JOIN e0 e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
corners AS (
  SELECT low AS id FROM tri UNION ALL SELECT mid FROM tri UNION ALL SELECT high FROM tri
),
tcount AS (SELECT id, COUNT(*) AS t FROM corners GROUP BY id)
SELECT d.id,
       ROUND(CASE WHEN d.deg > 1
             THEN 2.0 * COALESCE(t.t, 0) / (d.deg * (d.deg - 1))
             ELSE 0.0 END, 9) AS coeff
FROM degj d LEFT JOIN tcount t ON t.id = d.id"""
)


def _kcore_sql(k: int = 100, rounds: int = 8) -> str:
    # MATERIALIZED is load-bearing: each round references the previous
    # twice, so default CTE inlining duplicates the base scan 3^rounds
    # times (observed: fd exhaustion on the parquet file)
    ctes = ["k0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM k{i-1} GROUP BY src),
k{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM k{i-1} e
  JOIN d{i} a ON a.src = e.src AND a.c >= {k}
  JOIN d{i} b ON b.src = e.dst AND b.c >= {k}
)"""
        )
    return (
        "WITH " + _EDGES_CTE + ", " + ",\n".join(ctes)
        + f"\nSELECT DISTINCT src AS id FROM k{rounds}"
    )


def oracle_sql() -> dict[str, str]:
    out = {name: _golden_sql(g) for name, g in _load_goldens().items()
           if name in _GOLDEN_NAMES}
    if "spinner_8" in out:
        # mode='csr' shares every |V|-scale protocol step with
        # mode='sql' (only the |E|-scale histogram/gating jobs move to
        # the staged kernels) and is verified bit-identical — so it is
        # checked against the SAME ref_impl-guarded golden snapshot.
        out["spinner_8_csr"] = out["spinner_8"]
    cc_sql = "WITH RECURSIVE " + _EDGES_CTE + """,
cc(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.dst, cc.comp FROM cc JOIN edges e ON e.src = cc.id AND cc.comp < e.dst
)
SELECT id, MIN(comp) AS comp FROM cc GROUP BY id"""
    return out | {
        "degree": "WITH " + _EDGES_CTE + "\nSELECT id, degree FROM deg",
        "triangle_total": (
            "WITH " + _EDGES_CTE + """
SELECT COUNT(*) AS n_triangles
FROM e0 e1 JOIN e0 e2 ON e1.dst = e2.src JOIN e0 e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
        ),
        "triangle_total_csr": (
            "WITH " + _EDGES_CTE + """
SELECT COUNT(*) AS n_triangles
FROM e0 e1 JOIN e0 e2 ON e1.dst = e2.src JOIN e0 e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
        ),
        "triangle_per_vertex": (
            "WITH " + _EDGES_CTE + """
SELECT e2.dst AS id, COUNT(*) AS triangles
FROM e0 e1 JOIN e0 e2 ON e1.dst = e2.src JOIN e0 e3 ON e3.src = e1.src AND e3.dst = e2.dst
GROUP BY e2.dst"""
        ),
        "connected_components": cc_sql,
        "connected_components_csr": cc_sql,
        "connected_components_sql": cc_sql,
        "pagerank_10": _pagerank_sql(10),
        "pagerank_10_sql": _pagerank_sql(10),
        "lpa_4": _lpa_sql(4),
        "lpa_4_csr": _lpa_sql(4),
        "lpa_4_sql": _lpa_sql(4),
        "sssp_hops": _sssp_sql(6),
        "sssp_hops_csr": _sssp_sql(6),
        "mssp_hops": _mssp_sql(8),
        "mssp_hops_csr": _mssp_sql(8),
        "sybilrank_4": _sybilrank_sql(4),
        "sybilrank_4_csr": _sybilrank_sql(4),
        "bmatching_3": _bmatching_sql(3),
        "kmeans_2": _kmeans_sql(2),
        "semimetric": _SEMIMETRIC_SQL,
        "jaccard": _JACCARD_SQL,
        "adamic_adar": _AA_SQL,
        "clustering_coef": _COEF_SQL,
        "kcore_80": _kcore_sql(80, 8),
        "doc_stats": _DOC_STATS_SQL,
        "exact_dup_groups": _EXACT_DUP_SQL,
        "minhash_lsh_dups": _MINHASH_SQL,
        "simhash16": _SIMHASH_SQL,
        "embed_cosine_topk": _EMBED_KNN_SQL,
        "sessionize": _SESSIONIZE_SQL,
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        "cosine_near_dups": _COSINE_NEAR_DUPS_SQL,
        "popularity_rank": _POPULARITY_SQL,
        "lang_id": _LANG_ID_SQL,
        "token_counts": _TOKEN_COUNTS_SQL,
        "als_2": _ALS_SQL,
        "precision_at_5_pop": _P5_SQL,
    }
