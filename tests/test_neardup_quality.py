"""Near-dup precision/recall on a dup-DENSE corpus (r3 verdict item 4).

The planted-pair tests pin mechanics on 4 docs; this module pins
retrieval QUALITY at corpus scale: 500 fixture documents + 50
deterministic mutants (seed 42), ground truth computed brute-force
(all ~150k pairs — fine at test scale, exactly what the LSH paths
exist to avoid at 100 TB):

- MinHash-LSH at threshold 0.5 must reach precision ≥ 0.9 AND recall
  ≥ 0.9 against EXACT n-gram Jaccard ≥ 0.5 ground truth.
- SimHash banded candidates at hamming ≤ 3 must EQUAL the brute-force
  hamming ≤ 3 pair set (the 4×16-bit pigeonhole makes recall exactly
  1.0; the bit_count verify makes precision exactly 1.0 — any
  deviation is a bug, so the assertion is set equality, not a bound).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.dedup import (
    minhash_near_dup_pairs,
    shingle_sets,
    simhash,
    simhash_candidate_pairs,
)
from solana_etl_pipeline_spark.sources import load_table

_SEED = 42


def _mutate_drop_swap(words: list[str], rng: random.Random) -> list[str]:
    """Drop two words + swap one adjacent pair: ~0.7-0.85 Jaccard on a
    ~55-word doc — clearly above the 0.5 threshold but far from exact."""
    out = list(words)
    for _ in range(2):
        if len(out) > 5:
            out.pop(rng.randrange(len(out)))
    i = rng.randrange(len(out) - 1)
    out[i], out[i + 1] = out[i + 1], out[i]
    return out


def _mutate_swap_only(words: list[str], rng: random.Random) -> list[str]:
    """Swap two adjacent word pairs: token MULTISET unchanged, so the
    SimHash signature is identical (hamming 0) while shingle Jaccard
    drops a little — the order-sensitive vs order-invariant contrast."""
    out = list(words)
    for _ in range(2):
        i = rng.randrange(len(out) - 1)
        out[i], out[i + 1] = out[i + 1], out[i]
    return out


@pytest.fixture(scope="module")
def dup_corpus(spark, sf_dir):
    """500 originals + 25 drop/swap mutants (+100000 ids) + 25
    swap-only mutants (+200000 ids), all deterministic at seed 42."""
    docs = [
        (int(r.doc_id), r.text)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    rng = random.Random(_SEED)
    chosen = rng.sample(docs, 50)
    rows = list(docs)
    for doc_id, text in chosen[:25]:
        rows.append(
            (100000 + doc_id, " ".join(_mutate_drop_swap(text.split(), rng)))
        )
    for doc_id, text in chosen[25:]:
        rows.append(
            (200000 + doc_id, " ".join(_mutate_swap_only(text.split(), rng)))
        )
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _pair_set(df, a="id_a", b="id_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_precision_recall_on_dup_dense_corpus(spark, dup_corpus):
    truth_sets = shingle_sets(dup_corpus, "doc_id", "text", 3)
    left = truth_sets.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
    )
    right = truth_sets.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
    )
    # brute-force ground truth: all ~150k pairs, exact Jaccard
    truth = _pair_set(
        left.crossJoin(right)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    # every planted drop/swap mutant must be a true near-dup of its
    # original — the corpus really is dup-dense
    assert len(truth) >= 40

    pred = _pair_set(
        minhash_near_dup_pairs(
            dup_corpus, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
        )
    )
    tp = len(pred & truth)
    precision = tp / len(pred)
    recall = tp / len(truth)
    assert precision >= 0.9, (precision, len(pred), len(truth))
    assert recall >= 0.9, (recall, len(pred), len(truth))


def test_simhash_banded_equals_bruteforce(spark, dup_corpus):
    sigs = simhash(dup_corpus, "doc_id", "text")
    left = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    right = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    truth = _pair_set(
        left.crossJoin(right)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b")
    )
    # swap-only mutants have identical token multisets → hamming 0, so
    # the truth set must contain them all
    assert len(truth) >= 25

    pred = _pair_set(
        simhash_candidate_pairs(dup_corpus, "doc_id", "text", max_hamming=3)
    )
    assert pred == truth


# ------------------------------------------------ ANN recall corpus


def synthetic_corpus(spark, n=100_000, dim=64, n_clusters=200,
                     noise=0.7, n_queries=50, seed=7):
    """(corpus_df, queries_df): planted-cluster unit vectors, seeded
    numpy with no wall-clock state.

    corpus rows: vec_id 0..n-1, cluster = vec_id % n_clusters, each a
    noise-perturbed unit center, renormalized. ``noise`` makes the
    clusters OVERLAP, so a query's true top-k usually straddles cell
    boundaries at nprobe=1. queries: vec_id 1_000_000+i, perturbed from
    cluster i's center with the same noise — IN-distribution probes
    that are NOT corpus rows, so ground truth holds no self-matches.
    """
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def _perturbed(cluster_ids, gen):
        # per-component sigma noise/sqrt(dim): the noise VECTOR has
        # expected norm ≈ `noise` relative to the unit center, so
        # same-cluster cosine ≈ 1/sqrt(1+noise²) — structure survives
        # (a raw `noise * standard_normal(dim)` would have norm
        # noise*sqrt(dim) ≈ 8·noise and swamp the center entirely)
        v = centers[cluster_ids] + (noise / np.sqrt(dim)) * (
            gen.standard_normal((len(cluster_ids), dim))
        )
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    corpus_vecs = _perturbed(np.arange(n) % n_clusters, rng)
    query_vecs = _perturbed(np.arange(n_queries) % n_clusters, rng)

    def _df(ids, vecs):
        pdf = pd.DataFrame(
            {"vec_id": ids, "embedding": [v.tolist() for v in vecs]}
        )
        return spark.createDataFrame(pdf)

    corpus = _df(np.arange(n), corpus_vecs).repartition(32, "vec_id")
    queries = _df(np.arange(n_queries) + 1_000_000, query_vecs)
    return corpus, queries


def _topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def recall_at_k(approx, exact: dict[int, set[int]], k: int) -> float:
    """Mean over queries of |approx ∩ exact| / k. Queries the index
    returns NOTHING for count as recall 0 (they stay in the mean)."""
    got = _topk_sets(approx)
    return sum(
        len(got.get(q, set()) & hits) / k for q, hits in exact.items()
    ) / len(exact)


def test_ann_recall_floors_on_harness_corpus(spark):
    """Recall floors for the ANN indexes on ``synthetic_corpus`` — the
    planted-cluster generator behind the 100 k measurements in
    COVERAGE.md (``git show 6eb1dfe:tools/recall_harness.py``).
    The planted-twin oracles prove exact copies surface; these floors
    prove the indexes are USEFUL on organic neighbors. 20 k vectors
    keeps the suite fast; measured headroom at the pinned operating
    points: ivf(nprobe=2) 1.00, ivfpq(m=8, nprobe=4, shortlist=200)
    0.988, lsh(16 planes, 4 bands) ≈ 0.83 — floors sit well below."""
    from solana_etl_pipeline_spark.llm.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivfpq_cosine_topk,
        kmeans_fit,
        lsh_cosine_topk,
        pq_fit,
    )

    corpus, queries = synthetic_corpus(spark, n=20_000)
    corpus = corpus.persist()
    try:
        exact = _topk_sets(
            cosine_topk(corpus, queries, k=5, max_queries=None)
        )
        centroids = kmeans_fit(corpus, k=50, dim=64, n_iters=2)
        book = pq_fit(corpus, m=8, ksub=16, dim=64, n_iters=1)

        r_ivf = recall_at_k(
            ivf_cosine_topk(corpus, queries, centroids, k=5, nprobe=2),
            exact, 5,
        )
        assert r_ivf >= 0.9, f"ivf recall@5 at nprobe=2: {r_ivf}"

        r_ivfpq = recall_at_k(
            ivfpq_cosine_topk(
                corpus, queries, centroids, book,
                k=5, nprobe=4, shortlist=200,
            ),
            exact, 5,
        )
        assert r_ivfpq >= 0.8, (
            f"ivfpq recall@5 at nprobe=4, shortlist=200: {r_ivfpq}"
        )

        r_lsh = recall_at_k(
            lsh_cosine_topk(corpus, queries, k=5, n_planes=16, n_bands=4),
            exact, 5,
        )
        assert r_lsh >= 0.6, f"lsh recall@5 at 16x4: {r_lsh}"
    finally:
        corpus.unpersist()
