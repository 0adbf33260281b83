"""Training-data pipeline functions: text stats, dedup tiers,
similarity search."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from okapi_spark.functions.dedup import (
    exact_duplicates,
    dedup_exact,
    minhash_lsh_duplicates,
    ngram_jaccard_pairs,
    simhash16,
    simhash_near_dups,
)
from okapi_spark.functions.simsearch import cosine_near_dups, cosine_topk, lsh_topk
from okapi_spark.functions.text import doc_stats


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "the quick brown fox leaps over the lazy dog"),        # near dup of 1
    (4, "completely different content about spark engines"),
    (5, "THE  QUICK  BROWN  FOX jumps over the lazy dog"),     # fp-dup of 1 after norm? (case+ws)
    (6, "short"),
]


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_doc_stats(spark, docs_df):
    got = {r.doc_id: r for r in doc_stats(docs_df).collect()}
    assert got[1].n_tokens == 9
    assert got[6].n_tokens == 1
    assert got[1].fingerprint == hashlib.sha256(DOCS[0][1].encode()).hexdigest()
    # normalization: case+whitespace collapse makes 5 share 1's fingerprint
    assert got[5].fingerprint == got[1].fingerprint


def test_exact_dedup(spark, docs_df):
    dups = exact_duplicates(docs_df).collect()
    assert len(dups) == 1
    assert dups[0].n_dups == 3 and dups[0].keep_id == 1 and dups[0].dup_ids == [1, 2, 5]
    kept = dedup_exact(docs_df)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 6]


def test_minhash_lsh_finds_near_dup(spark, docs_df):
    pairs = {(r.a, r.b): r.jaccard for r in
             minhash_lsh_duplicates(
                 docs_df, n=2, num_hashes=8, bands=8, threshold=0.5
             ).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dups always caught
    # (1,3): bigram sets share 6 of 10 → jaccard 0.6; 8 single-row bands
    # catch it with prob 1-(1-0.6)^8 ≈ 0.9993
    assert (1, 3) in pairs and pairs[(1, 3)] == pytest.approx(0.6, abs=1e-9)
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_ngram_jaccard_exact(spark, docs_df):
    pairs = {(r.a, r.b): r.jaccard for r in
             ngram_jaccard_pairs(docs_df, threshold=0.4).collect()}
    # oracle for (1,3): word-trigram sets
    def tri(s):
        t = s.lower().split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
    g1, g3 = tri(DOCS[0][1]), tri(DOCS[2][1])
    want = len(g1 & g3) / len(g1 | g3)
    assert pairs[(1, 3)] == pytest.approx(want, abs=1e-9)


def test_simhash(spark, docs_df):
    h = {r.id: r.simhash for r in simhash16(docs_df).collect()}
    assert h[1] == h[2]  # identical text → identical simhash
    near = {(r.a, r.b): r.hamming for r in
            simhash_near_dups(docs_df, max_hamming=3).collect()}
    assert (1, 2) in near and near[(1, 2)] == 0


def test_simhash_banding_catches_split_hamming2(spark):
    """Planted Hamming-2 pair whose two differing bits split 1+1 across
    the 8-bit halves (bits 0 and 8) — the old lo/hi half-blocking missed
    exactly this case; 4×4-bit bands must catch it (bands 1 and 3 still
    match). Plus pigeonhole completeness vs brute force on adversarial
    signatures."""
    from okapi_spark.functions.dedup import simhash_pairs

    sigs = [
        (1, 0x0000),
        (2, 0x0101),  # bits 0 and 8 → 1 bit per half, hamming 2 from id 1
        (3, 0x1110),  # bits 4, 8, 12 → hamming 3 from id 1, 1+1+1 split
        (4, 0xFFFF),  # far from everything
    ]
    s = spark.createDataFrame(sigs, "id long, simhash int")
    got = {(r.a, r.b): r.hamming for r in simhash_pairs(s, max_hamming=3).collect()}
    # brute-force oracle
    want = {}
    for i, (ia, ha) in enumerate(sigs):
        for ib, hb in sigs[i + 1:]:
            d = bin(ha ^ hb).count("1")
            if d <= 3:
                want[(ia, ib)] = d
    assert got == want
    assert got[(1, 2)] == 2  # the planted 1+1 split survives

    with pytest.raises(ValueError):
        simhash_pairs(s, max_hamming=4)


def _embeddings(spark, n=40, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    # plant a near-duplicate of vector 0
    v0 = np.array(rows[0][1])
    rows.append((n, [float(x) for x in (v0 + rng.normal(scale=0.01, size=dim))]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), rows


def test_cosine_topk_vs_numpy(spark):
    df, rows = _embeddings(spark)
    queries = df.filter(F.col("vec_id") < 3)
    got = cosine_topk(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.sim))
    M = np.array([r[1] for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    for q in range(3):
        order = [i for i in np.argsort(-np.round(sims[q], 9), kind="stable") if i != q][:5]
        got_ids = [v for v, _ in by_q[q]]
        assert got_ids == [rows[i][0] for i in order], q
    # the planted near-dup must top vector 0's list
    assert by_q[0][0][0] == rows[-1][0]


def test_lsh_topk_recall(spark):
    df, rows = _embeddings(spark, n=120)
    queries = df.filter(F.col("vec_id") < 10)
    exact = cosine_topk(df, queries, k=5)
    approx = lsh_topk(df, queries, k=5, bits=6)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall  # multiprobe LSH on gaussian data


def test_cosine_near_dups(spark):
    df, rows = _embeddings(spark)
    pairs = cosine_near_dups(df, threshold=0.95).collect()
    assert any({p.a, p.b} == {0, rows[-1][0]} for p in pairs)


def test_cosine_near_dups_lsh_matches_exact(spark):
    """The LSH-bucketed scale path finds exactly the brute-force pairs
    at τ=0.95 on the synthetic embeddings (fixed seed; near-identical
    planted pairs survive the 4×8-bit tables with overwhelming prob,
    and verification makes precision exact)."""
    df, rows = _embeddings(spark, n=80)
    exact = {(r.a, r.b, r.sim) for r in
             cosine_near_dups(df, threshold=0.95, method="exact").collect()}
    lsh = {(r.a, r.b, r.sim) for r in
           cosine_near_dups(df, threshold=0.95, method="lsh").collect()}
    assert exact == lsh
    assert len(exact) >= 1  # the planted pair exists


def test_ivf_topk_recall_and_exact_degeneration(spark):
    from okapi_spark.functions.simsearch import ivf_topk

    df, rows = _embeddings(spark, n=120)
    queries = df.filter(F.col("vec_id") < 8)
    exact = cosine_topk(df, queries, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}

    # probing every cell degenerates to exact search: recall 1.0
    full = ivf_topk(df, queries, k=5, nlist=8, nprobe=8)
    f = {(r.query_id, r.vec_id) for r in full.collect()}
    assert f == e

    # partial probe keeps useful recall on gaussian data
    approx = ivf_topk(df, queries, k=5, nlist=8, nprobe=3)
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5


def test_lang_id_and_token_counts(spark):
    from okapi_spark.functions.text import bpe_ish_token_count, lang_id, token_count

    rows = [
        (1, "the cat and the dog sat in that house for hours"),
        (2, "der hund und die katze das ist ein haus zu sehen"),
        (3, "le chat et la maison les arbres dans une ville"),
        (4, "zzz qqq xyzzy plugh"),
        (5, "foo123 bar, baz!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            lang_id(F.col("text")).alias("lang"),
            token_count(F.col("text")).alias("ws"),
            bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert got[1].lang == "en"
    assert got[2].lang == "de"
    assert got[3].lang == "fr"
    assert got[4].lang == "und"
    assert got[5].ws == 3
    # foo|123|bar|,|baz|! → 6 BPE-ish units
    assert got[5].bpe == 6
