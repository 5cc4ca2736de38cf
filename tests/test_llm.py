"""Unit tests for the LLM-data operators: planted near-duplicates for
the LSH families (whose bucketing the SQL oracle can't express) and
recall of the approximate similarity path vs its exact twin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.dedup import (
    exact_dedup_groups,
    minhash_near_dup_pairs,
    simhash_candidate_pairs,
)
from solana_etl_pipeline_spark.llm.multimodal import (
    documents_as_assets,
    featurize_assets,
)
from solana_etl_pipeline_spark.llm.similarity import cosine_topk, lsh_cosine_topk
from solana_etl_pipeline_spark.llm.textstats import language_id
from solana_etl_pipeline_spark.sources import load_table

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun and the birds sing in the tall green trees near "
    "the old stone wall by the river bank"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """4 docs: 0/1 near-identical (one word changed), 2 exact copy of 0,
    3 unrelated."""
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE.replace("lazy", "sleepy")),
        Row(doc_id=2, text=BASE),
        Row(
            doc_id=3,
            text=(
                "completely different content about databases query "
                "planners shuffle partitions and columnar execution "
                "engines with vectorized operators and adaptive plans "
                "running on large clusters of commodity machines today"
            ),
        ),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_finds_copies(spark, planted_docs):
    groups = exact_dedup_groups(planted_docs, ["text"], "doc_id")
    by_keep = {r.keep_id: r.n_copies for r in groups.collect()}
    assert by_keep[0] == 2  # docs 0 and 2 identical, survivor is min id
    assert by_keep[1] == 1
    assert by_keep[3] == 1


def test_minhash_finds_planted_near_dups(spark, planted_docs):
    pairs = minhash_near_dup_pairs(
        planted_docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    )
    found = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    assert found[(0, 2)] == 1.0  # exact copies: all signature entries equal
    assert (0, 1) in found and found[(0, 1)] >= 0.5  # one-word edit
    assert not any(3 in p for p in found)  # unrelated doc never pairs


def test_minhash_verified_pairs_matches_composed_form(spark, planted_docs):
    """r16 fusion pin: the fused candidate+verify pass
    (minhash_verified_pairs) must emit row-identical output to the
    composed form (minhash_near_dup_pairs → ngram_jaccard_for_pairs →
    jaccard filter) it replaced in the registry queries — same filters,
    same roundings, half the candidate re-joins."""
    from solana_etl_pipeline_spark.llm.dedup import (
        minhash_verified_pairs,
        ngram_jaccard_for_pairs,
    )

    for cap in (None, 2):
        cand = minhash_near_dup_pairs(
            planted_docs, "doc_id", "text",
            num_hashes=64, bands=16, threshold=0.5, max_bucket=cap,
        )
        composed = ngram_jaccard_for_pairs(
            planted_docs, cand.select("id_a", "id_b"), "doc_id", "text"
        ).filter(F.col("jaccard") >= 0.5)
        fused = minhash_verified_pairs(
            planted_docs, "doc_id", "text",
            num_hashes=64, bands=16,
            est_threshold=0.5, jaccard_threshold=0.5, max_bucket=cap,
        )
        assert composed.columns == fused.columns
        assert sorted(map(tuple, composed.collect())) == sorted(
            map(tuple, fused.collect())
        ), f"fused != composed at max_bucket={cap}"


def test_minhash_bucket_cap_identity_when_not_triggered(spark, planted_docs):
    """With every bucket under the cap, max_bucket must be a pure
    no-op: identical pairs and estimates as the uncapped path."""
    base = minhash_near_dup_pairs(
        planted_docs, "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.5,
    )
    capped = minhash_near_dup_pairs(
        planted_docs, "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.5, max_bucket=100,
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_minhash_bucket_cap_stars_mega_bucket_preserving_dedup(spark):
    """A mass-duplicated boilerplate cluster (the mega-bucket
    pathology): the cap must bound candidate pairs to a star (s-1 per
    bucket, not s(s-1)/2) while the downstream connected-components
    dedup still resolves the SAME survivors as the uncapped clique —
    star edges preserve connectivity, and every member verifies
    against the representative at est_jaccard 1.0."""
    from solana_etl_pipeline_spark.llm.cluster import near_dup_dedup

    n_clones = 40
    rows = [
        Row(doc_id=i, text="the same boilerplate footer repeated verbatim "
                           "across the whole crawl again and again")
        for i in range(n_clones)
    ] + [
        Row(doc_id=100 + i, text=f"genuinely distinct document number "
                                 f"{i} with its own words body{i} tail{i}")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
    )
    capped = minhash_near_dup_pairs(
        docs, "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.5, max_bucket=10,
    )
    # clique: C(40,2) = 780 pairs; star: 39 — the quadratic is gone
    assert uncapped.count() == n_clones * (n_clones - 1) // 2
    cap_pairs = capped.collect()
    assert len(cap_pairs) == n_clones - 1
    assert all(r.id_a == 0 and r.est_jaccard == 1.0 for r in cap_pairs)
    # and the dedup resolution is unchanged: one survivor (doc 0) for
    # the clone cluster, every distinct doc surviving
    surv_capped = sorted(
        r.doc_id for r in near_dup_dedup(docs, capped, "doc_id").collect()
    )
    surv_uncapped = sorted(
        r.doc_id
        for r in near_dup_dedup(docs, uncapped, "doc_id").collect()
    )
    assert surv_capped == surv_uncapped == [0, 100, 101, 102, 103, 104]


def test_megabucket_registry_query_triggers_star_path(spark, sf_dir):
    """The registry's planted-mega-bucket query must actually FIRE the
    cap (not just arm it): with 1201 exact copies of doc 0 sharing
    every band bucket and MAX_BUCKET=1000, the star branch emits only
    rep→member edges, so clone–clone candidate pairs are IMPOSSIBLE
    (clique semantics would emit C(1200,2) = 719 400 of them) and doc
    0 carries exactly one edge per clone. The survivor summary must
    equal the raw-corpus llm_near_dup_survivors output with no
    _planted row — the same equivalence the driver oracle re-checks."""
    from solana_etl_pipeline_spark.llm.cluster import near_dup_dedup
    from solana_etl_pipeline_spark.llm.dedup import (
        ngram_jaccard_for_pairs,
        shingle_sets,
    )
    from solana_etl_pipeline_spark.llm.scale import MAX_BUCKET
    from solana_etl_pipeline_spark.queries.llm import (
        CLONE_ID_BASE,
        MEGABUCKET_SLICE,
        N_CLONE_ROWS,
        _plant_clone_cluster,
        llm_megabucket_star_survivors,
    )

    assert N_CLONE_ROWS + 1 > MAX_BUCKET  # the trigger precondition

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MEGABUCKET_SLICE
    )
    corpus = _plant_clone_cluster(docs)
    sh = shingle_sets(corpus, "doc_id", "text", 3)
    cand = minhash_near_dup_pairs(
        corpus, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        shingles=sh, max_bucket=MAX_BUCKET,
    )
    clone_edges = cand.filter(F.col("id_b") >= CLONE_ID_BASE)
    n_clone_clone = clone_edges.filter(
        F.col("id_a") >= CLONE_ID_BASE
    ).count()
    n_star = clone_edges.filter(F.col("id_a") == 0).count()
    assert n_clone_clone == 0, (
        f"{n_clone_clone} clone-clone candidate pairs — the oversize "
        "bucket took the clique path, the star cap did not fire"
    )
    assert n_star == N_CLONE_ROWS

    got = {
        r.source: (r.n_survivors, r.surviving_chars)
        for r in llm_megabucket_star_survivors(spark, sf_dir).collect()
    }
    # The stronger equivalence: capped star pipeline over the
    # clone-augmented corpus ≡ the EXACT-clique pipeline over the
    # raw slice with no clones at all.
    sh_raw = shingle_sets(docs, "doc_id", "text", 3)
    cand_raw = minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        shingles=sh_raw, max_bucket=None,
    )
    pairs_raw = ngram_jaccard_for_pairs(
        docs, cand_raw.select("id_a", "id_b"), "doc_id", "text",
        shingles=sh_raw,
    ).filter(F.col("jaccard") >= 0.5)
    want = {
        r.source: (r.n_survivors, r.surviving_chars)
        for r in near_dup_dedup(docs, pairs_raw, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("n_chars").alias("surviving_chars"),
        )
        .collect()
    }
    assert "_planted" not in got
    assert got == want

    # Fixture assumption behind the oracle equivalence (ADVICE r12):
    # planting clones makes every bucket containing doc 0 oversize, so
    # an organic verified pair (a, b) whose ONLY shared bucket holds
    # doc 0 is starred away. The survivor sets still match only if any
    # such lost edge is recovered through doc 0's component — i.e.
    # both endpoints themselves verify against doc 0 at jaccard >=
    # 0.5. Assert that recovery explicitly so a fixture change that
    # breaks the assumption fails HERE, by name, instead of as a
    # confusing driver hash mismatch.
    pairs_capped = ngram_jaccard_for_pairs(
        corpus, cand.select("id_a", "id_b"), "doc_id", "text", shingles=sh
    ).filter(F.col("jaccard") >= 0.5)
    capped_organic = {
        frozenset((r.id_a, r.id_b))
        for r in pairs_capped.filter(
            (F.col("id_a") < CLONE_ID_BASE)
            & (F.col("id_b") < CLONE_ID_BASE)
        ).collect()
    }
    raw_pairs = {
        frozenset((r.id_a, r.id_b)) for r in pairs_raw.collect()
    }
    doc0_component = {0} | {
        other
        for pair in capped_organic if 0 in pair
        for other in pair if other != 0
    }
    lost = raw_pairs - capped_organic
    unrecovered = [
        sorted(pair) for pair in lost if not pair <= doc0_component
    ]
    assert not unrecovered, (
        f"organic verified pairs starred away and NOT recovered via "
        f"doc-0 connectivity: {unrecovered} — the megabucket oracle "
        "equivalence assumption no longer holds on this fixture"
    )


def test_simhash_candidates(spark, planted_docs):
    pairs = simhash_candidate_pairs(planted_docs, "doc_id", "text", max_hamming=3)
    found = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert found[(0, 2)] == 0  # identical docs: identical signatures
    assert not any(3 in p for p in found)


def test_simhash_bucket_cap_matches_minhash_semantics(spark, planted_docs):
    """simhash's max_bucket: a no-op under the cap, a star over it —
    with the same survivors either way (clone cluster case)."""
    from solana_etl_pipeline_spark.llm.cluster import near_dup_dedup

    base = simhash_candidate_pairs(
        planted_docs, "doc_id", "text", max_hamming=3
    )
    capped = simhash_candidate_pairs(
        planted_docs, "doc_id", "text", max_hamming=3, max_bucket=100
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, capped.collect())
    )

    rows = [
        Row(doc_id=i, text="identical boilerplate body shared verbatim "
                           "by every clone in the bucket")
        for i in range(30)
    ] + [Row(doc_id=99, text="completely different words none shared")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    star = simhash_candidate_pairs(
        docs, "doc_id", "text", max_hamming=3, max_bucket=8
    )
    got = star.collect()
    assert len(got) == 29  # star, not C(30,2)=435
    assert all(r.id_a == 0 and r.hamming == 0 for r in got)
    surv = sorted(
        r.doc_id for r in near_dup_dedup(docs, star, "doc_id").collect()
    )
    assert surv == [0, 99]


def test_embedding_near_dup_bucket_cap(spark):
    """embedding_near_dup_pairs' max_bucket: identity under the cap,
    star over it, identical CC survivors for an identical-vector
    cluster (cosine 1.0 against the representative)."""
    from solana_etl_pipeline_spark.llm.cluster import near_dup_dedup
    from solana_etl_pipeline_spark.llm.dedup import (
        embedding_near_dup_pairs,
    )

    clone = [1.0, 0.5, -0.25, 0.125] * 4
    rows = [Row(vec_id=i, embedding=clone) for i in range(20)] + [
        Row(
            vec_id=100 + i,
            embedding=[
                ((i * 7 + j * 13) % 11) - 5.0 for j in range(16)
            ],
        )
        for i in range(4)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    base = embedding_near_dup_pairs(emb, threshold=0.99)
    capped_hi = embedding_near_dup_pairs(emb, threshold=0.99, max_bucket=50)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, capped_hi.collect())
    )

    star = embedding_near_dup_pairs(emb, threshold=0.99, max_bucket=5)
    got = star.collect()
    clone_star = [r for r in got if r.id_b < 100]
    assert len(clone_star) == 19  # star, not C(20,2)=190
    assert all(r.id_a == 0 and r.cosine == 1.0 for r in clone_star)
    surv_star = sorted(
        r.vec_id for r in near_dup_dedup(emb, star, "vec_id").collect()
    )
    surv_base = sorted(
        r.vec_id for r in near_dup_dedup(emb, base, "vec_id").collect()
    )
    assert surv_star == surv_base


def _cap_pairs(spark, generator, n, cap):
    """(id_a, id_b) pairs of ``generator`` over ``n`` identical
    documents (or vectors), which share every band bucket."""
    from solana_etl_pipeline_spark.llm.dedup import (
        embedding_near_dup_pairs,
        minhash_verified_pairs,
    )

    if generator == "embedding":
        emb = spark.createDataFrame(
            [Row(vec_id=i, embedding=[1.0, 0.5, -0.25, 0.125] * 4)
             for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        out = embedding_near_dup_pairs(emb, threshold=0.99, max_bucket=cap)
    else:
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=BASE) for i in range(n)],
            "doc_id long, text string",
        )
        fn = {
            "minhash": minhash_near_dup_pairs,
            "minhash_verified": minhash_verified_pairs,
            "simhash": simhash_candidate_pairs,
        }[generator]
        out = fn(docs, "doc_id", "text", max_bucket=cap)
    return sorted((r.id_a, r.id_b) for r in out.collect())


@pytest.mark.parametrize(
    "generator", ["minhash", "minhash_verified", "simhash", "embedding"]
)
def test_bucket_cap_boundary(spark, generator):
    """The star cap is strict: a bucket of exactly ``max_bucket``
    members keeps its clique, one member more turns it into the star
    around the minimum id (s-1 pairs)."""
    cap = 4
    clique = [(a, b) for a in range(cap) for b in range(a + 1, cap)]
    assert _cap_pairs(spark, generator, cap, cap) == clique
    star = [(0, b) for b in range(1, cap + 1)]
    assert _cap_pairs(spark, generator, cap + 1, cap) == star


def test_lsh_finds_planted_high_sim_neighbors(spark, sf_dir):
    """SRP-LSH's actual guarantee: high-cosine pairs collide with high
    probability. Plant an exact-duplicate neighbor (cosine 1.0, id+1000)
    for each query vector — identical vectors share every band, so LSH
    MUST return them at rank 1."""
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.col("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(planted)
    queries = emb.filter(F.col("vec_id") < 5)
    approx = lsh_cosine_topk(corpus, queries, k=5)
    rank1 = {r.query_id: (r.neighbor_id, r.cosine) for r in approx.collect()
             if r.rank == 1}
    for qid in range(5):
        assert rank1[qid][0] == qid + 1000
        assert rank1[qid][1] == 1.0


def test_lsh_cosine_vs_exact_sanity(spark, sf_dir):
    """On the random fixture (near-neighbor cosine ≈ 0.4 — the hard,
    low-signal regime for SRP-LSH) recall is modest by design; assert a
    loose floor and the invariant that approx can never beat exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = lsh_cosine_topk(emb, queries, k=5).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(a & e) / len(e) >= 0.1
    e1 = {r.query_id: r.cosine for r in exact if r.rank == 1}
    for r in approx:
        if r.rank == 1:
            assert r.cosine <= e1[r.query_id] + 1e-9


def test_ivf_finds_planted_neighbor_in_cluster(spark, sf_dir):
    """IVF invariant: an exact-duplicate vector always lands in the
    same cluster as its query, so nprobe=1 search must find it."""
    from solana_etl_pipeline_spark.llm.similarity import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    planted = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(planted)
    queries = emb.filter(F.col("vec_id") < 3)
    centroids = emb.filter(F.col("vec_id") >= 90).select(
        (F.col("vec_id") - 90).alias("cluster_id"), "embedding"
    )
    out = ivf_cosine_topk(corpus, queries, centroids, k=5)
    rank1 = {r.query_id: r.neighbor_id for r in out.collect() if r.rank == 1}
    for qid in range(3):
        assert rank1[qid] == qid + 1000


def test_ngram_jaccard_exact_values(spark, planted_docs):
    """Exact Jaccard on known pairs: identical docs = 1.0; the one-word
    edit changes exactly shingle_len=3 shingles of the 36 total."""
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.dedup import ngram_jaccard_for_pairs

    pairs = spark.createDataFrame(
        [Row(id_a=0, id_b=2), Row(id_a=0, id_b=1), Row(id_a=0, id_b=3)]
    )
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_for_pairs(planted_docs, pairs,
                                            "doc_id", "text").collect()}
    assert out[(0, 2)] == 1.0
    # one word changed in a w-word doc: 3 shingles differ per side
    n = len(BASE.split())
    total = n - 2  # distinct shingles per doc (all unique here)
    inter = total - 3
    expected = round(inter / (2 * total - inter), 6)
    assert abs(out[(0, 1)] - expected) < 1e-6
    assert out[(0, 3)] == 0.0


def test_embedding_near_dup_finds_planted(spark, sf_dir):
    from solana_etl_pipeline_spark.llm.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").limit(60)
    planted = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(planted)
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in embedding_near_dup_pairs(corpus, 0.95).collect()}
    for qid in range(3):
        assert pairs[(qid, qid + 1000)] == 1.0


def test_language_id_markers(spark):
    rows = [
        Row(doc_id=0, text="the cat and the dog of the house"),
        Row(doc_id=1, text="el gato y la casa de madrid"),
        Row(doc_id=2, text="der hund und die katze"),
        Row(doc_id=3, text="xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r.lang for r in df.select(
        "doc_id", language_id(F.col("text")).alias("lang")
    ).collect()}
    assert out == {0: "en", 1: "es", 2: "de", 3: "und"}


def test_multimodal_featurize_roundtrip(spark, planted_docs):
    import hashlib

    docs = planted_docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("test")
    )
    feats = featurize_assets(documents_as_assets(docs))
    rows = {r.asset_id: r for r in feats.collect()}
    expected = hashlib.sha256(BASE.encode()).hexdigest()
    assert rows[0].digest == expected
    assert rows[0].n_bytes == len(BASE.encode())
    assert len(rows[0].feat) == 4
    assert rows[0].feat[0] == int(expected[:2], 16) / 255.0


def test_null_text_docs_never_pair(spark):
    """Null-text docs must be excluded from signature-based pairing:
    split(NULL) is NULL and xxhash64(NULL) returns the seed, so without
    the explicit post-explode filters every null-text doc would share
    one signature and pair with every other (ADVICE r3)."""
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE),
        Row(doc_id=10, text=None),
        Row(doc_id=11, text=None),
        Row(doc_id=12, text=""),
        Row(doc_id=13, text="   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    sim = simhash_candidate_pairs(df, "doc_id", "text", max_hamming=3)
    sim_pairs = {(r.id_a, r.id_b) for r in sim.collect()}
    assert sim_pairs == {(0, 1)}

    mh = minhash_near_dup_pairs(
        df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    )
    mh_pairs = {(r.id_a, r.id_b) for r in mh.collect()}
    assert mh_pairs == {(0, 1)}


def test_lsh_null_and_ragged_embeddings_dropped(spark):
    """Null or wrong-length vectors get NULL band signatures (and thus
    never collide) instead of crashing np.stack or silently hashing
    against a differently-shaped plane matrix (ADVICE r3)."""
    from solana_etl_pipeline_spark.llm.similarity import (
        lsh_bucket_assignments,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=None),
        Row(vec_id=3, embedding=[1.0, 0.0]),  # ragged length
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    buckets = lsh_bucket_assignments(df, dim=4)
    got = buckets.collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.vec_id, []).append(r.band_val)
    # identical vectors share identical band values
    assert sorted(by_id[0]) == sorted(by_id[1])
    assert all(v is not None for v in by_id[0])
    # null and ragged vectors produce only NULL band values
    assert by_id[2] == [None] and by_id[3] == [None]


def test_pair_cosine_zero_norm_parity_with_jvm_twin(spark):
    """Zero-norm and empty vectors must yield NULL from the Arrow
    kernel, matching the JVM expression twin (Spark's Divide returns
    NULL on a zero divisor). A NaN here would rank FIRST in every
    desc-cosine top-k because Spark orders NaN above all doubles
    (ADVICE r9)."""
    from pyspark.sql import functions as F

    from solana_etl_pipeline_spark.llm.similarity import (
        _dot,
        _norm,
        pair_cosine,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [1.0, 2.0]),  # normal
            (2, [0.0, 0.0], [1.0, 2.0]),  # zero-norm left
            (3, [], []),  # empty both
            (4, None, [1.0, 2.0]),  # null left
            (5, [1.0], [1.0, 2.0]),  # length mismatch
            (6, [3.0, 4.0], [4.0, 3.0]),  # normal
        ],
        "id long, a array<double>, b array<double>",
    )
    jvm = _dot(F.col("a"), F.col("b")) / (
        _norm(F.col("a")) * _norm(F.col("b"))
    )
    rows = (
        df.select(
            "id",
            F.round(pair_cosine(F.col("a"), F.col("b")), 6).alias("arrow"),
            F.round(jvm, 6).alias("jvm"),
        )
        .orderBy("id")
        .collect()
    )
    for r in rows:
        assert r.arrow == r.jvm, f"id={r.id}: arrow={r.arrow} jvm={r.jvm}"
    got = {r.id: r.arrow for r in rows}
    assert got[1] == 1.0 and got[6] == 0.96
    assert got[2] is None and got[3] is None
    assert got[4] is None and got[5] is None
    # and in a desc top-k, the degenerate rows never outrank real ones
    ranked = (
        df.withColumn("cos", pair_cosine(F.col("a"), F.col("b")))
        .orderBy(F.desc("cos"))
        .select("id")
        .first()
    )
    assert ranked.id in (1, 6)


def test_cosine_topk_kernels_agree(spark):
    """cosine_topk's JVM expression kernel gives the exact top-5 a
    numpy kernel computes over the same 200 vectors: the same
    neighbours in the same order, cosines equal after the 1e-6
    round."""
    import random

    import numpy as np

    from solana_etl_pipeline_spark.llm.similarity import cosine_topk

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(200)]
    rows = [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = df.filter("vec_id < 4")
    got = sorted(
        map(tuple, cosine_topk(df, q, k=5, max_queries=None).collect())
    )

    m = np.asarray(vecs)
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    want = []
    for qi in range(4):
        cos = np.round(unit @ unit[qi], 6)
        order = sorted(
            (i for i in range(len(vecs)) if i != qi),
            key=lambda i: (-cos[i], i),
        )
        want += [
            (qi, i, rank, float(cos[i]))
            for rank, i in enumerate(order[:5], start=1)
        ]
    assert got == sorted(want)


def test_lsh_dim_inference_tie_breaks_to_larger_length(spark):
    """With dim=None and an Arrow batch evenly split between corrupt
    short vectors and real long ones, the majority-length vote must
    elect the LARGER length (mode() would pick the smallest and null
    every real vector in the batch — ADVICE r5)."""
    from solana_etl_pipeline_spark.llm.similarity import (
        lsh_bucket_assignments,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),  # corrupt short
        Row(vec_id=1, embedding=[0.0, 1.0]),  # corrupt short
        Row(vec_id=2, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),
    ]
    # one partition => one Arrow batch => a genuine 2-vs-2 tie
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    ).coalesce(1)
    by_id = {}
    for r in lsh_bucket_assignments(df, dim=None).collect():
        by_id.setdefault(r.vec_id, []).append(r.band_val)
    # len-4 vectors hash; len-2 vectors are the ones nulled
    assert all(v is not None for v in by_id[2] + by_id[3])
    assert by_id[0] == [None] and by_id[1] == [None]


def test_kmeans_fit_recovers_planted_clusters(spark):
    """3 tight planted clusters around orthogonal axes: Lloyd
    iterations must land one centroid near each cluster mean, and IVF
    search with the trained codebook must achieve perfect recall for
    in-cluster neighbors."""
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        kmeans_fit,
    )

    dim = 8
    rows = []
    for c, axis in enumerate((0, 3, 6)):
        for j in range(20):
            v = [0.05 * ((j + i) % 3) for i in range(dim)]
            v[axis] = 10.0 + 0.1 * j  # tight cluster on this axis
            rows.append(Row(vec_id=c * 20 + j, embedding=v))
    df = spark.createDataFrame(rows)

    cent_df = kmeans_fit(df, k=3, dim=dim, n_iters=3)
    cents = cent_df.collect()
    assert len(cents) == 3
    # each planted axis dominates exactly one trained centroid
    dominant = sorted(max(range(dim), key=lambda i: r.embedding[i]) for r in cents)
    assert dominant == [0, 3, 6]

    queries = df.filter(F.col("vec_id").isin(0, 20, 40))
    approx = ivf_cosine_topk(df, queries, cent_df, k=5)
    exact = cosine_topk(df, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert a == e  # tight clusters: nprobe=1 recall is perfect


def test_ivf_nprobe_recovers_cross_boundary_neighbor(spark):
    """A query between two cells whose true nearest neighbor lands in
    the second-closest cell: nprobe=1 misses it, nprobe=2 finds it."""
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.similarity import ivf_cosine_topk

    # centroids on axes 0 and 1; corpus: id 1 deep in cell A, id 2 in
    # cell B; query id 0 leans toward A but its true neighbor is 2.
    centroids = spark.createDataFrame(
        [Row(cluster_id=0, embedding=[1.0, 0.0]),
         Row(cluster_id=1, embedding=[0.0, 1.0])]
    )
    corpus = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0]),
         Row(vec_id=2, embedding=[0.55, 0.84])]  # cell B resident
    )
    query = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.8, 0.61])]  # nearest centroid: A
    )
    full = corpus.unionByName(query)

    probe1 = ivf_cosine_topk(full, query, centroids, k=1, nprobe=1)
    probe2 = ivf_cosine_topk(full, query, centroids, k=1, nprobe=2)
    # true cosine: sim(q,2) > sim(q,1), but 2 lives in the unprobed cell
    assert [r.neighbor_id for r in probe1.collect()] == [1]
    assert [r.neighbor_id for r in probe2.collect()] == [2]


def test_kmeans_fit_tolerates_null_and_ragged_vectors(spark):
    """Null and length-mismatched embeddings are excluded from
    training instead of crashing the seed collect or the numpy
    stack; dim is derived from the seeds when omitted."""
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.similarity import kmeans_fit

    rows = [Row(vec_id=i, embedding=[float(i), 1.0, 0.0, 0.0]) for i in range(12)]
    rows += [
        Row(vec_id=100, embedding=None),
        Row(vec_id=101, embedding=[1.0, 2.0]),  # ragged
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = kmeans_fit(df, k=2, n_iters=2).collect()  # dim derived
    assert len(cents) == 2
    for r in cents:
        assert len(r.embedding) == 4
        assert all(v is not None for v in r.embedding)


def test_kmeans_fit_raises_without_valid_vectors(spark):
    import pytest as _pytest

    from solana_etl_pipeline_spark.llm.similarity import kmeans_fit

    df = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="no valid vectors"):
        kmeans_fit(df, k=2)


def test_kmeans_fit_dim_vote_survives_corrupt_first_seed(spark):
    """A corrupt short vector must not redefine dim even if its id
    scrambles first — majority length over the probe wins."""
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.similarity import kmeans_fit

    rows = [Row(vec_id=i, embedding=[float(i), 1.0, 0.0, 0.0]) for i in range(30)]
    rows.append(Row(vec_id=77, embedding=[9.9, 9.9]))  # corrupt, 2-dim
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=4, n_iters=1).collect()
    assert cents and all(len(r.embedding) == 4 for r in cents)


def test_multimodal_null_payload_survives(spark):
    """A null payload (e.g. a null-text document) features as NULLs
    instead of crashing the Arrow batch (sha256(None))."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="real payload", lang="en", source="s"),
            Row(doc_id=2, text=None, lang="en", source="s"),
        ]
    )
    assets = documents_as_assets(docs)
    feats = {r.asset_id: r for r in featurize_assets(assets).collect()}
    assert feats[1].digest is not None and feats[1].n_bytes > 0
    assert feats[2].digest is None and feats[2].n_bytes is None
    assert feats[2].feat is None


# --------------------------------------------------- product quantization


def test_pq_finds_planted_twin_at_rank_1(spark, sf_dir):
    """An exact copy encodes to the query's own codes; provided it
    survives the ADC shortlist (margin pinned by
    test_pq_twin_adc_rank_margin) the exact re-rank must put it at
    rank 1 with cosine 1.0 — the same invariant the LSH/IVF probes
    pin."""
    from solana_etl_pipeline_spark.llm.similarity import (
        pq_cosine_topk,
        pq_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    book = pq_fit(emb, m=8, ksub=16, dim=64, n_iters=1)
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    out = pq_cosine_topk(emb.unionByName(twins), queries, book, k=5)
    rank1 = {
        r.query_id: (r.neighbor_id, r.cosine)
        for r in out.collect()
        if r.rank == 1
    }
    for qid in range(5):
        assert rank1[qid] == (qid + 1000, 1.0)


def test_pq_vs_exact_sanity(spark, sf_dir):
    """ADC shortlist + exact re-rank: recall floor on the random
    fixture, and the invariant that the approximate rank-1 cosine can
    never beat the exact rank-1."""
    from solana_etl_pipeline_spark.llm.similarity import (
        pq_cosine_topk,
        pq_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    book = pq_fit(emb, m=8, ksub=16, dim=64, n_iters=1)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = pq_cosine_topk(emb, queries, book, k=5).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(a & e) / len(e) >= 0.3
    e1 = {r.query_id: r.cosine for r in exact if r.rank == 1}
    for r in approx:
        if r.rank == 1:
            assert r.cosine <= e1[r.query_id] + 1e-9


def test_pq_fit_shape_and_determinism(spark, sf_dir):
    """Codebook is [m][ksub][dim/m] metadata and the whole train path
    (scramble seeding, argmin encode, cell means) is deterministic
    across invocations."""
    from solana_etl_pipeline_spark.llm.similarity import pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = pq_fit(emb, m=4, ksub=8, dim=64, n_iters=1)
    b2 = pq_fit(emb, m=4, ksub=8, dim=64, n_iters=1)
    assert len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 16
    assert b1 == b2


def test_pq_invalid_vectors_never_encode(spark):
    """Null / length-mismatched corpus vectors yield NULL codes and
    are dropped before the ADC join — they can never surface as
    neighbors or poison a batch (mirrors the SRP/IVF guards)."""
    from solana_etl_pipeline_spark.llm.similarity import (
        pq_cosine_topk,
        pq_fit,
    )

    dim = 4
    rows = [
        Row(vec_id=i, embedding=[float(i == j) for j in range(dim)])
        for i in range(8)
    ]
    rows.append(Row(vec_id=100, embedding=None))
    rows.append(Row(vec_id=101, embedding=[1.0, 2.0]))  # ragged
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    book = pq_fit(df, m=2, ksub=4, dim=dim, n_iters=1)
    queries = df.filter(F.col("vec_id") < 2)
    out = pq_cosine_topk(df, queries, book, k=5).collect()
    assert out, "valid vectors must still rank"
    assert all(r.neighbor_id not in (100, 101) for r in out)


def test_pq_fit_rejects_indivisible_dim(spark, sf_dir):
    from solana_etl_pipeline_spark.llm.similarity import pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=7, ksub=4, dim=64)


def test_ivfpq_finds_planted_twin_and_matches_components(spark, sf_dir):
    """IVF-PQ composition: twins surface at rank 1 / cosine 1.0, and
    with nprobe covering every cell the composed result for a query
    equals plain PQ over the same corpus (IVF only prunes cells)."""
    from solana_etl_pipeline_spark.llm.similarity import (
        ivfpq_cosine_topk,
        kmeans_fit,
        pq_cosine_topk,
        pq_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = kmeans_fit(emb, k=4, dim=64, n_iters=1)
    book = pq_fit(emb, m=8, ksub=16, dim=64, n_iters=1)
    queries = emb.filter(F.col("vec_id") < 3)
    twins = queries.select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)

    out = ivfpq_cosine_topk(corpus, queries, centroids, book, k=5)
    rank1 = {
        r.query_id: (r.neighbor_id, r.cosine)
        for r in out.collect()
        if r.rank == 1
    }
    for qid in range(3):
        assert rank1[qid] == (qid + 5000, 1.0)

    # nprobe = k cells ⇒ nothing pruned ⇒ identical to flat PQ
    full = ivfpq_cosine_topk(
        corpus, queries, centroids, book, k=5, nprobe=4
    ).collect()
    flat = pq_cosine_topk(corpus, queries, book, k=5).collect()
    as_set = lambda rows: {
        (r.query_id, r.neighbor_id, r.rank, r.cosine) for r in rows
    }
    assert as_set(full) == as_set(flat)


def test_pq_twin_adc_rank_margin(spark, sf_dir):
    """Guard for the PQ/IVF-PQ planted-twin ORACLE pairings.

    A twin's ADC score is the query's self-quantized inner product —
    not necessarily the maximum (argmin-L2 encoding does not maximize
    the ADC inner product) — so the registry probes' rank-1 guarantee
    holds only while the twin survives the ADC shortlist (50). This
    test measures the twin's full-corpus ADC rank for BOTH probe
    codebooks (n_iters=1 → llm_pq_cosine_topk, n_iters=0 →
    llm_ivfpq_cosine_topk; the within-cell rank the IVF-PQ probe
    actually uses can only be better than the full-corpus rank under
    the same codebook) and asserts it stays at most HALF the
    shortlist. Fixture or parameter drift that erodes the margin
    fails here loudly instead of silently flaking the driver's
    CORRECTNESS gate. Measured on current fixtures: rank 1 for every
    query at sf0.001 and sf0.01 under both codebooks."""
    from pyspark.sql import Window

    from solana_etl_pipeline_spark.llm.similarity import (
        _adc_ip_expr,
        _pq_encoded,
        _pq_queries_with_lut,
        pq_fit,
    )

    shortlist = 50
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = emb.agg(F.max("vec_id")).first()[0] + 1
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_ip"), F.asc("neighbor_id")
    )
    for n_iters in (0, 1):
        book = pq_fit(emb, m=8, ksub=16, dim=64, n_iters=n_iters)
        enc = _pq_encoded(corpus, book, "vec_id", "embedding")
        q = F.broadcast(
            _pq_queries_with_lut(queries, book, "vec_id", "embedding")
        )
        ranks = {
            r.query_id: r.rn
            for r in (
                q.crossJoin(enc)
                .filter(F.col("query_id") != F.col("neighbor_id"))
                .withColumn("adc_ip", _adc_ip_expr(8))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("neighbor_id") == F.col("query_id") + off)
                .select("query_id", "rn")
                .collect()
            )
        }
        assert len(ranks) == 5, f"n_iters={n_iters}: twin rows lost {ranks}"
        worst = max(ranks.values())
        assert worst <= shortlist // 2, (
            f"n_iters={n_iters}: twin ADC rank margin eroded — worst "
            f"rank {worst} vs shortlist {shortlist}; the PQ/IVF-PQ "
            f"planted-twin oracles are at risk of flaking ({ranks})"
        )
