"""LLM-data-pipeline queries over ``documents`` / ``embeddings``
(SURVEY.md §2.11 north star).

Every query here is oracle-paired. The LSH families (MinHash,
SimHash, hyperplane-LSH) — whose bucketing is not SQL-expressible —
are made driver-checkable by the two self-banding forms the sketch
family established (COVERAGE.md convention 4):

- **exact-verified output**: the LSH stage only GENERATES candidates;
  the emitted rows are exact-verified (n-gram Jaccard / true cosine)
  against a threshold sitting in the fixture's wide similarity gap
  (organic near-dups ≥ 0.89, everything else < 0.4 at sf0.001/0.01),
  so the output set equals the ground truth an oracle can compute
  with an inverted-index / all-pairs SQL. This is also the production
  shape: LSH for recall, exact verify for precision.
- **planted probes**: for operators whose *approximation quality* is
  scale-dependent (SimHash hamming, ANN top-k), the corpus is
  augmented with deterministic twins (order-reversed text — SimHash
  is order-invariant; copied vectors — cosine exactly 1.0) and the
  query emits only the twin verdicts, which any correct
  implementation must find at every scale. Organic-threshold quality
  (recall/precision curves) stays pinned by
  tests/test_neardup_quality.py and the recall tests — an oracle
  cannot express a probabilistic guarantee, but it CAN check that
  the machinery finds what it provably must.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.dedup import (
    edit_distance_near_dup,
    embedding_near_dup_pairs,
    exact_dedup_groups,
    minhash_verified_pairs,
    ngram_jaccard_for_pairs,
    simhash_candidate_pairs,
)
from solana_etl_pipeline_spark.llm.cluster import near_dup_dedup
from solana_etl_pipeline_spark.llm.scale import (
    MAX_BUCKET,
    MAX_PROBE_PER_BUCKET,
)
from solana_etl_pipeline_spark.llm.multimodal import (
    decode_image,
    decode_media,
    documents_as_assets,
    featurize_assets,
    synthesize_image_assets,
    synthesize_media_assets,
)
from solana_etl_pipeline_spark.llm.similarity import (
    cosine_topk,
    ivf_cosine_topk,
    ivfpq_cosine_topk,
    kmeans_fit,
    lsh_cosine_topk,
    pq_cosine_topk,
    pq_fit,
)
from solana_etl_pipeline_spark.llm.textstats import (
    STOPWORDS,
    TOKEN_REGEX,
    document_fingerprint,
    language_id,
    quality_score,
    text_stats,
    token_counts,
)
from solana_etl_pipeline_spark.llm import tokenize
from solana_etl_pipeline_spark.queries.base import QuerySpec
from solana_etl_pipeline_spark.sources import load_table

_N_QUERY_VECS = 5  # similarity queries use vec_id < 5 as the query set


_OFFSET_CACHE: dict[tuple[str, str], int] = {}

#: Batch-0 signature stores for the incremental-dedup probe, one per
#: fixture dir (immutable inputs ⇒ identical seed store; batch 1
#: mutates a per-invocation COPY, never the seed).
_INCR_SEED_CACHE: dict[str, str] = {}


def _probe_offset(df: DataFrame, id_col: str, cache_key: str) -> int:
    """Planted-probe id offset: ``max(id) + 1``, derived from the
    corpus instead of hardcoded. A fixed literal (the old 100000)
    silently collides with organic ids once the scale factor grows the
    id space past it — duplicate ids fan out every join and the
    emitted pair set diverges from the oracle — and even without exact
    collision, an organic pair (a, a+LITERAL) would pass the
    twin-verdict filter as a phantom. With ``max+1`` both failure
    modes are impossible by construction at any scale: every planted
    id exceeds every organic id. One-row scalar probe (the sanctioned
    collect pattern, cf. llm/cluster.py's convergence sum); the
    matching oracles derive the same offset via a scalar subquery.
    Memoized per (sf_dir, table): the fixtures are immutable, so the
    max-id job runs once per table per process instead of once per
    invocation (bench runs each probe query 3×). ``cache_key`` is
    REQUIRED (the sf_dir) — a shared default would let two different
    tables with the same id column serve each other a stale offset,
    silently breaking the planted-id > organic-id invariant."""
    key = (cache_key, id_col)
    if key not in _OFFSET_CACHE:
        max_id = df.agg(F.max(id_col)).collect()[0][0]
        if max_id is None:
            raise ValueError(
                f"cannot derive a probe offset: no rows with non-null "
                f"{id_col!r} (empty fixture at {cache_key!r}?)"
            )
        _OFFSET_CACHE[key] = max_id + 1
    return _OFFSET_CACHE[key]


def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash exact dedup groups (hash side is Spark-only; the
    oracle groups by raw text — identical up to sha256 collisions)."""
    docs = load_table(spark, sf_dir, "documents")
    groups = exact_dedup_groups(docs, ["text"], "doc_id")
    return groups.select("keep_id", "n_copies")


def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(F.col("text"))
    per_doc = docs.select(
        "lang", *[expr.alias(name) for name, expr in stats.items()]
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.avg("avg_word_len"), 4).alias("avg_word_len"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
    )


def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = token_counts(F.col("text"))
    return (
        docs.select(
            "source", *[expr.alias(name) for name, expr in counts.items()]
        )
        .groupBy("source")
        .agg(
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
            F.round(F.avg("ws_tokens"), 4).alias("avg_ws_tokens"),
        )
    )


def llm_quality_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solana_etl_pipeline_spark.functions.banding import risk_band

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )
    return (
        scored.withColumn("band", risk_band(F.col("quality"), 80.0, 50.0))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted vs labeled language confusion counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", document_fingerprint(F.col("text")).alias("fingerprint")
    )


# Edit-distance blocking: 32-char length buckets, 16-char prefix,
# ≤ 40 edits over the full text. At the fixture the planted near-dup
# pairs sit at distance 4-12 and the one blocked non-dup pair at 182,
# so the threshold has a wide margin on both sides.
ED_LEN_BUCKET, ED_PREFIX_CHARS, ED_MAX_DIST = 32, 16, 40


def llm_edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-dup pairs (character-level detector)."""
    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_near_dup(
        docs, "doc_id", "text",
        len_bucket=ED_LEN_BUCKET,
        prefix_chars=ED_PREFIX_CHARS,
        max_dist=ED_MAX_DIST,
    )


def llm_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, exact-verified.

    Production shape: banded LSH generates candidates (bucket
    equi-join, never all-pairs), exact n-gram Jaccard verifies them,
    and only verified pairs (jaccard ≥ 0.5) are emitted. The output
    set therefore equals the SQL-computable ground truth (all pairs
    with exact 3-gram Jaccard ≥ 0.5) whenever LSH candidate recall is
    1 at the threshold — which the fixture's similarity gap
    guarantees: every true pair sits at J ≥ 0.89 where the 16×4
    banding misses with probability < 2e-7, and the nearest
    non-duplicate pair is below J = 0.4.

    Runs with the 100 TB scale profile (``llm/scale.py``):
    ``max_bucket=MAX_BUCKET`` stars mega-buckets so one
    mass-duplicated boilerplate cluster can't go quadratic. The cap is
    ~6× the largest organic fixture bucket, so the guarded plan is
    bit-identical to the exact one here and the oracle still pins the
    full ground truth."""
    docs = load_table(spark, sf_dir, "documents")
    # r16: fused candidate+verify pass — one (shingles, signature)
    # cache, the pair ids join it once per side instead of twice
    # (est joins + verify joins), identical filters and roundings.
    # See minhash_verified_pairs docstring; parity with the composed
    # form is pinned by tests/test_llm.py.
    return minhash_verified_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16,
        est_threshold=0.5, jaccard_threshold=0.5, max_bucket=MAX_BUCKET,
    )


def llm_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: MinHash-LSH candidates → exact-Jaccard
    verify → connected components → one canonical survivor per
    cluster (``llm/cluster.py``), summarized per source. The oracle
    recomputes the verified pair graph in SQL and resolves components
    with a recursive CTE — the full pipeline (candidate generation,
    verification, transitive clustering, canonical keep) is
    driver-checked, not just the pair stage. Runs with the 100 TB
    scale profile (``llm/scale.py`` — star caps leave the fixture
    output bit-identical; the star/CC-equivalence argument is exactly
    what this query's survivor oracle then re-checks end-to-end)."""
    docs = load_table(spark, sf_dir, "documents")
    # r16: fused candidate+verify pass (see llm_minhash_near_dup).
    pairs = minhash_verified_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16,
        est_threshold=0.5, jaccard_threshold=0.5, max_bucket=MAX_BUCKET,
    )
    survivors = near_dup_dedup(docs, pairs, "doc_id")
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_chars").alias("surviving_chars"),
    )


# Planted mega-bucket (llm_megabucket_star_survivors): enough exact
# clones of one document that every band bucket holding the clone
# cluster exceeds llm/scale.MAX_BUCKET and the star-cap branch MUST
# fire. Clone ids sit far above any fixture doc_id so the min-id
# canonical keep can never select a clone.
N_CLONE_ROWS = 1200
CLONE_ID_BASE = 1 << 40
CLONE_MIN_CHARS = 100
# The witness corpus is the doc_id < MEGABUCKET_SLICE fixture slice:
# the star trigger comes entirely from the 1201-clone cluster, so the
# surrounding corpus only needs to be realistic, not complete — the
# slice keeps the registry's most expensive query at roughly half the
# full-survivors cost at sf0.1 (at sf0.001/0.01 the fixtures have
# exactly 500 docs and the slice is a no-op). doc 0 stays the slice's
# global min id, preserving the representative argument below.
MEGABUCKET_SLICE = 500


def _plant_clone_cluster(docs: DataFrame) -> DataFrame:
    """``documents`` plus ``N_CLONE_ROWS`` exact copies of the min-id
    document with ``n_chars >= CLONE_MIN_CHARS`` (doc_id 0 on every
    fixture — being the GLOBAL min id matters: the star
    representative of a bucket is its min id, so the target document
    itself is always the representative and every clone verifies
    against it at jaccard 1.0). Clones get fresh ids above
    ``CLONE_ID_BASE`` and source ``_planted``."""
    target = (
        docs.filter(
            F.col("text").isNotNull()
            & (F.col("n_chars") >= CLONE_MIN_CHARS)
        )
        .orderBy("doc_id")
        .limit(1)
    )
    clones = target.select(
        F.explode(
            F.sequence(F.lit(1), F.lit(N_CLONE_ROWS))
        ).alias("_k"),
        "text",
        "lang",
        "n_chars",
    ).select(
        (F.lit(CLONE_ID_BASE) + F.col("_k")).alias("doc_id"),
        "text",
        "lang",
        F.lit("_planted").alias("source"),
        "n_chars",
    )
    return docs.unionByName(clones.select(*docs.columns))


def llm_megabucket_star_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver witness for the TRIGGERED star-cap path (the 100 TB
    mega-bucket guard actually firing, not just being armed).

    The corpus is augmented with :func:`_plant_clone_cluster`: 1200
    exact copies of doc 0 — mass-duplicated boilerplate, the exact
    web-corpus pathology ``max_bucket`` exists for. The clone cluster
    shares doc 0's minhash signature, so all 16 band buckets holding
    it have size ≥ 1201 > ``MAX_BUCKET`` = 1000 and
    ``minhash_near_dup_pairs`` MUST take the star branch (s-1 edges
    around the min-id representative instead of the s·(s-1)/2 ≈ 720 k
    clique; tests/test_llm.py pins zero clone–clone candidate pairs,
    which is impossible under clique semantics).

    The oracle is survivor-set equivalence, the same recursive-CTE
    survivors SQL as ``llm_near_dup_survivors`` over the RAW corpus:
    doc 0 is the global min id, so it is every triggered bucket's
    star representative; each clone verifies against it at exact
    jaccard 1.0; connected components absorbs the whole cluster into
    doc 0's component; and the min-id canonical keep discards every
    clone (ids above ``CLONE_ID_BASE``). Star edges between doc 0 and
    organic bucket members pass through the same est/exact-jaccard
    verify as uncapped candidates, and band-bucket membership of the
    original documents is unchanged by the clones — so the survivor
    summary over the augmented corpus equals the raw-corpus one, and
    no ``_planted`` row may appear. One FIXTURE assumption underlies
    that equivalence (it is not a theorem for arbitrary corpora):
    planting clones makes every bucket containing doc 0 oversize, so
    an organic verified pair whose only shared bucket holds doc 0 is
    starred away, and the survivor sets match only if both endpoints
    of any such lost edge themselves verify against doc 0 (recovery
    via doc 0's component).
    tests/test_llm.py::test_megabucket_registry_query_triggers_star_path
    asserts that recovery explicitly, so a fixture change that breaks
    the assumption fails by name rather than as a confusing driver
    hash mismatch. Any cap-machinery defect
    (lost star edges, orphaned clones, a surviving clone) breaks the
    match. Corpus is the ``doc_id < MEGABUCKET_SLICE`` slice (see the
    constant's comment); the oracle applies the same slice."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MEGABUCKET_SLICE
    )
    corpus = _plant_clone_cluster(docs)
    # r16: fused candidate+verify pass (see llm_minhash_near_dup).
    pairs = minhash_verified_pairs(
        corpus, "doc_id", "text", num_hashes=64, bands=16,
        est_threshold=0.5, jaccard_threshold=0.5, max_bucket=MAX_BUCKET,
    )
    survivors = near_dup_dedup(corpus, pairs, "doc_id")
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_chars").alias("surviving_chars"),
    )


def llm_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash planted-probe: banded candidates must rediscover
    order-permuted twins.

    SimHash is a bag-of-tokens signature — permuting a document's
    words leaves it bit-identical — so planting a word-reversed twin
    (id + max(doc_id)+1, see ``_probe_offset``) for each doc_id < 50
    creates pairs a correct
    implementation MUST emit at hamming 0, at any scale factor. The
    query runs the full pipeline (signature → 16-bit bands → bucket
    join → hamming verify) over the augmented corpus and emits the
    twin verdicts. Organic-threshold quality (banded ≡ brute-force at
    hamming ≤ 3) is pinned by tests/test_neardup_quality.py — a SQL
    oracle can't express a Hamming-ball guarantee, but it can check
    the machinery finds what it provably must."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = _probe_offset(docs, "doc_id", sf_dir)
    probes = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias(
            "text"
        ),
    )
    pairs = simhash_candidate_pairs(
        docs.unionByName(probes), "doc_id", "text", max_hamming=3,
        max_bucket=MAX_BUCKET,
    )
    return pairs.filter(F.col("id_b") == F.col("id_a") + off)


def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard for each consecutive doc pair (doc_id,
    doc_id+1) — a SQL-expressible candidate set so the verify stage
    itself is oracle-checked (LSH candidate generation is covered by
    the rows-only near-dup queries + planted tests)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    ).join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return ngram_jaccard_for_pairs(docs, pairs, "doc_id", "text")


def llm_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact-verified against a full
    all-pairs oracle. The corpus is augmented with copied vectors
    (vec_id + max(vec_id)+1 for vec_id < 20, cosine exactly 1.0) so the
    result is non-trivial on the otherwise-dissimilar random fixture;
    hyperplane-LSH buckets generate candidates (identical vectors
    collide deterministically — same signs, same bands) and exact
    cosine ≥ 0.9 verifies. The oracle computes true all-pairs cosine
    over the same augmented corpus, so LSH recall at the threshold is
    what's being checked — the fixture has no organic pair above 0.9,
    and the planted pairs cannot be missed."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = _probe_offset(emb, "vec_id", sf_dir)
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding"
    )
    return embedding_near_dup_pairs(
        emb.unionByName(planted), threshold=0.9, max_bucket=MAX_BUCKET
    )


def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the first 5 vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    # max_queries=None: the query side is 5 rows BY CONSTRUCTION
    # (vec_id < 5), so the guard's bounded count job would be a
    # redundant scan on every invocation; the guard protects callers
    # whose query side is data-dependent.
    return cosine_topk(emb, queries, k=5, max_queries=None)


def llm_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-k planted-probe: each query vector gets an
    exact twin (vec_id + max(vec_id)+1) planted in the corpus; a correct ANN
    must return its own twin at rank 1 with cosine 1.0 — identical
    vectors share every LSH band deterministically, and no distinct
    fixture vector rounds to cosine 1.0. The query runs the full
    pipeline (SRP signatures, band bucket join, exact re-rank) over
    the augmented corpus and emits the twin rows. Recall on organic
    neighbors — inherently probabilistic, not oracle-expressible —
    stays pinned by tests/test_llm.py recall assertions against the
    exact twin ``llm_cosine_topk`` (which IS value-checked)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = _probe_offset(emb, "vec_id", sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    twins = queries.select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding"
    )
    topk = lsh_cosine_topk(emb.unionByName(twins), queries, k=5)
    return topk.filter(
        F.col("neighbor_id") == F.col("query_id") + off
    )


def llm_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k planted-probe (same contract as the LSH probe):
    codebook trained with one Lloyd refinement over a deterministic
    scramble-seeded init (``kmeans_fit``), nprobe=1 cell search. A
    query's planted twin lands in the query's own nearest cell
    (identical vector ⇒ identical coarse assignment), so a correct
    IVF must return it at rank 1 with cosine 1.0 regardless of how
    the codebook partitions the space. Organic recall stays pinned by
    tests (planted-cluster recovery, recall vs exact twin)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = _probe_offset(emb, "vec_id", sf_dir)
    centroids = kmeans_fit(emb, k=8, dim=64, n_iters=1)
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    twins = queries.select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding"
    )
    topk = ivf_cosine_topk(emb.unionByName(twins), queries, centroids, k=5)
    return topk.filter(
        F.col("neighbor_id") == F.col("query_id") + off
    )


def llm_pq_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k planted-probe (same contract as the LSH and IVF
    probes): an 8-subspace × 16-codeword product-quantization
    codebook is trained with one refinement pass over deterministic
    scramble-seeded init (``pq_fit``), the corpus is stored as codes,
    and each query's ADC shortlist is exact-cosine re-ranked. A
    query's planted twin encodes to the query's own codes, so its ADC
    score equals the query's self-quantized inner product — NOT
    necessarily the maximum (argmin-L2 encoding does not maximize the
    ADC inner product, so other vectors can out-score the twin). The
    rank-1 guarantee therefore holds iff the twin survives into the
    ADC shortlist; once there, exact re-rank puts cosine 1.0 first.
    The shortlist (50) must stay well above the count of
    ADC-superior vectors per query — pinned as a measured margin by
    tests/test_llm.py::test_pq_twin_adc_rank_margin, so fixture or
    parameter drift fails a test instead of silently flaking this
    oracle pairing. Organic recall — inherently approximate — stays
    pinned by tests/test_llm.py recall assertions against the exact
    twin ``llm_cosine_topk``."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = _probe_offset(emb, "vec_id", sf_dir)
    codebook = pq_fit(emb, m=8, ksub=16, dim=64, n_iters=1)
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    twins = queries.select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding"
    )
    topk = pq_cosine_topk(
        emb.unionByName(twins), queries, codebook, k=5, shortlist=50
    )
    return topk.filter(
        F.col("neighbor_id") == F.col("query_id") + off
    )


def llm_ivfpq_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ planted-probe — the composed production index (coarse
    cells bound which rows are scored, PQ codes bound the cost per
    row, exact cosine re-ranks the shortlist). An exact twin shares
    the query's cell AND its codes, so the cell probe always finds it
    and — provided it survives the ADC shortlist within the probed
    cell (same caveat as ``llm_pq_cosine_topk``: identical codes give
    the self-quantized score, not the maximal one) — the exact
    re-rank returns it at rank 1 with cosine 1.0. The shortlist
    margin inside the probed cell is at least as wide as the flat-PQ
    margin the test pins (fewer competitors per cell than per
    corpus), so the same measured guard covers both probes.
    Component recall stays pinned by the IVF and PQ tests."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = _probe_offset(emb, "vec_id", sf_dir)
    centroids = kmeans_fit(emb, k=8, dim=64, n_iters=1)
    # n_iters=0: sampled sub-codebooks (seed vectors sliced, no Lloyd
    # pass) — the standard big-index shortcut (PQ is routinely trained
    # on a sample); drops one full corpus scan from the composed
    # probe, and the twin invariant is training-independent. The flat
    # PQ query keeps the refined fit as the training demo.
    codebook = pq_fit(emb, m=8, ksub=16, dim=64, n_iters=0)
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    twins = queries.select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding"
    )
    topk = ivfpq_cosine_topk(
        emb.unionByName(twins), queries, centroids, codebook, k=5
    )
    return topk.filter(
        F.col("neighbor_id") == F.col("query_id") + off
    )


def llm_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup planted-probe over a persisted signature
    store: batch 0 indexes the first 100 fixture docs, then batch 1
    arrives carrying exact copies (ids + max(doc_id)+1) of the first 20 and
    runs the full sign → store band-probe → signature verify → index
    step. The emitted rows are the copies' verdicts against the
    PREVIOUSLY indexed batch (scope='index', est_jaccard exactly 1.0
    — identical text ⇒ identical signatures), filtered to the planted
    self-pairs so organic near-dups among the fixture docs (present
    at sf0.001) can't leak into the pinned result. This
    driver-witnesses the cross-batch store probe — the path that
    makes incremental cost ∝ batch, not corpus. Replay idempotence
    and foreachBatch wiring stay pinned by tests/test_incremental.py."""
    import atexit
    import shutil
    import tempfile

    from solana_etl_pipeline_spark.llm.incremental import (
        incremental_near_dup_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = _probe_offset(docs, "doc_id", sf_dir)
    # Batch 0 (seed-store indexing) is deterministic fixture prep —
    # build it once per fixture dir (the _landing_dir reasoning,
    # queries/streaming.py) and COPY it per invocation, because batch
    # 1 mutates the store by indexing its arrivals. Each run still
    # drives the full cross-batch probe path against an identical
    # store state; only the rebuild of the identical seed is skipped.
    if sf_dir not in _INCR_SEED_CACHE:
        seed = tempfile.mkdtemp(prefix="spark_incr_seed_")
        atexit.register(shutil.rmtree, seed, ignore_errors=True)
        incremental_near_dup_batch(
            docs.filter(F.col("doc_id") < 100),
            seed,
            batch_id=0,
            num_hashes=32,
            bands=8,
        )
        _INCR_SEED_CACHE[sf_dir] = seed
    store = tempfile.mkdtemp(prefix="spark_incr_dedup_")
    # the returned DataFrame reads the store lazily, so the dir must
    # outlive this call — reclaim it at interpreter exit instead of
    # leaking one store per invocation (bench runs this 3×/sweep)
    atexit.register(shutil.rmtree, store, ignore_errors=True)
    shutil.rmtree(store)
    shutil.copytree(_INCR_SEED_CACHE[sf_dir], store)
    arrivals = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + off).alias("doc_id"), "text"
    )
    verdicts = incremental_near_dup_batch(
        arrivals, store, batch_id=1, num_hashes=32, bands=8,
        max_probe_per_bucket=MAX_PROBE_PER_BUCKET,
    )
    return verdicts.filter(
        F.col("new_id") == F.col("dup_of") + off
    ).select("new_id", "dup_of", "est_jaccard", "scope")


def llm_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based frequent tokens, pinned against exact counts.

    ``approx_top_k`` is the mergeable bounded-state answer to
    frequent-items at 100 TB: each partition tracks at most
    ``maxItemsTracked`` candidates regardless of term cardinality and
    partial sketches merge associatively, where an exact groupBy's
    state grows with the vocabulary. With ``maxItemsTracked`` ≥ the
    distinct-term count the sketch is exact, so the query emits the
    exact top-5 joined with the sketch's counts and an ``err`` column
    the oracle pins to zero — same self-banding pattern as the HLL
    rollup (``sketch_rollup_distinct_users``)."""
    from solana_etl_pipeline_spark.llm.ranking import _tokens

    toks = _tokens(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    # The oracle pins err=0, which is only sound while the tracked
    # budget covers the whole vocabulary — so DERIVE the budget from
    # the corpus instead of assuming it: one distinct-count job,
    # memoized per fixture dir (immutable, same reasoning as
    # _OFFSET_CACHE) so bench repeats don't re-run a corpus-wide
    # shuffle to recompute a constant; then round up (bounded by
    # Spark's hard cap below).
    vkey = (sf_dir, "n_vocab")
    if vkey not in _OFFSET_CACHE:
        _OFFSET_CACHE[vkey] = toks.select("term").distinct().count()
    n_vocab = _OFFSET_CACHE[vkey]
    # Spark's ApproxTopK hard-caps maxItemsTracked at 1,000,000
    # (catalyst MAX_ITEMS_TRACKED_LIMIT). Beyond that vocabulary the
    # sketch is genuinely approximate and the err=0 pin is
    # unsatisfiable BY DESIGN — fail loudly with the precondition
    # instead of letting an oracle mismatch read as an engine bug
    # (under-pressure sketch behavior is pinned separately by
    # tests/test_sketches.py).
    spark_max_tracked = 1_000_000
    if n_vocab > spark_max_tracked:
        raise ValueError(
            f"corpus vocabulary ({n_vocab} terms) exceeds ApproxTopK's "
            f"maxItemsTracked cap ({spark_max_tracked}); the exact-pin "
            f"form of this query only holds below the cap"
        )
    tracked = min(
        spark_max_tracked, max(65536, 1 << (n_vocab - 1).bit_length())
    )
    # sketch k=20 ≫ the joined top-5: an exact count tie at the 5th
    # place must not let the sketch's unspecified tie order drop the
    # term we join on
    approx = (
        toks.agg(F.expr(f"approx_top_k(term, 20, {tracked})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("term"),
            F.col("e.count").alias("approx_count"),
        )
    )
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    top5 = exact.orderBy(F.desc("exact_count"), F.asc("term")).limit(5)
    return top5.join(F.broadcast(approx), "term", "left").select(
        "term",
        "exact_count",
        F.coalesce("approx_count", F.lit(0)).alias("approx_count"),
        (F.col("exact_count") - F.coalesce("approx_count", F.lit(0))).alias(
            "err"
        ),
    )


def llm_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload featurization via Arrow-batched mapInPandas; the
    deterministic digest featurizer lets DuckDB check the full path
    (bytes → batches → Python → typed rows)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = featurize_assets(documents_as_assets(docs))
    return feats.select(
        "asset_id",
        "modality",
        "n_bytes",
        "digest",
        F.round(F.element_at("feat", 1), 6).alias("feat0"),
    )


def llm_image_header_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free image metadata extraction: PNG IHDR / JPEG SOFn
    header parsing (pure ``struct``, no image library) over planted
    binary payloads whose dimensions are deterministic functions of
    ``doc_id`` — see ``llm/multimodal.py::synthesize_image_assets``
    for the planted-metadata-twin oracle pattern and the branch
    arithmetic the SQL mirrors. Non-image payloads (every third doc's
    raw text bytes, including null text) must decode to the NULL
    group. Map-only both stages: at 100 TB this scales with input
    splits, no shuffle until the final small aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    hdrs = decode_image(synthesize_image_assets(docs))
    return hdrs.groupBy("format", "channels", "bit_depth").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.sum(F.col("width").cast("long") * F.col("height")).alias(
            "sum_pixels"
        ),
        F.min("width").alias("min_width"),
        F.max("width").alias("max_width"),
        F.min("height").alias("min_height"),
        F.max("height").alias("max_height"),
    )


def llm_media_header_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free audio/video metadata extraction: WAV RIFF-chunk and
    MP4 box-walk header parsing (pure ``struct``) over planted binary
    payloads — the audio/video counterpart of
    ``llm_image_header_stats`` (see
    ``llm/multimodal.py::synthesize_media_assets`` for the branch
    arithmetic the oracle mirrors). Sample-rate/duration routing
    without ever decoding a sample or frame is exactly what a 100 TB
    multimodal curation filter needs; both stages are map-only."""
    docs = load_table(spark, sf_dir, "documents")
    hdrs = decode_media(synthesize_media_assets(docs))
    return hdrs.groupBy("format").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("channels").alias("sum_channels"),
        F.sum("sample_rate").alias("sum_sample_rate"),
        F.sum("bit_depth").alias("sum_bit_depth"),
        F.sum("duration_ms").alias("sum_duration_ms"),
        F.sum("n_tracks").alias("sum_tracks"),
        F.min("duration_ms").alias("min_duration_ms"),
        F.max("duration_ms").alias("max_duration_ms"),
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

#: Shared oracle CTE chain: exact all-pairs 3-gram Jaccard ground
#: truth via an inverted-index join on shared shingles (cost ∝
#: co-occurring shingles, like the Spark verify stage — never a
#: blind cross join). ``jacc_pairs`` is every unordered pair with
#: round(jaccard, 6) ≥ 0.5.
_JACCARD_PAIRS_CTES = """
    words AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) AS w,
             generate_subscripts(
               string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '), 1) AS pos
      FROM documents),
    shingles AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      UNION
      -- docs shorter than the shingle length get ONE whole-text
      -- shingle (the engine's n <= shingle_len branch) — without this
      -- branch the positional 3-gram join gives short docs no shingle
      -- set at all and identical short docs would never pair. The
      -- whitespace-aware guard mirrors the engine's deliberate drop
      -- of degenerate shingles (minhash_signatures): null/empty AND
      -- whitespace-only docs must never pair at J=1.0 in the ground
      -- truth either (space-only trim() would let a tab-only doc
      -- through).
      SELECT doc_id,
             array_to_string(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '), ' ')
               AS sh
      FROM documents
      WHERE len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) < 3
        AND regexp_replace(coalesce(text, ''), '\\s', '', 'g') <> ''),
    sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1),
    inter AS (
      SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS n_inter
      FROM shingles sa
      JOIN shingles sb ON sb.sh = sa.sh AND sb.doc_id > sa.doc_id
      GROUP BY 1, 2),
    jacc_pairs AS (
      SELECT i.id_a, i.id_b,
             round(i.n_inter * 1.0
                   / (za.n_sh + zb.n_sh - i.n_inter), 6) AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.id_a
      JOIN sizes zb ON zb.doc_id = i.id_b
      WHERE round(i.n_inter * 1.0
                  / (za.n_sh + zb.n_sh - i.n_inter), 6) >= 0.5)
"""


def _jaccard_pairs_ctes(doc_src: str) -> str:
    """The shared ground-truth CTE block over a different document
    source (e.g. a sliced CTE) — exactly the two ``FROM documents``
    table references are rewritten; everything else is source-
    agnostic."""
    return _JACCARD_PAIRS_CTES.replace("FROM documents", f"FROM {doc_src}")


_SUBSTR_BOILER = (
    "shared boilerplate run alpha beta gamma delta epsilon zeta eta "
    "theta iota kappa lambda mu nu xi omicron pi rho sigma tau "
    "upsilon phi"
)  # 24 tokens > the 20-token window


def _substr_augmented(docs: DataFrame) -> DataFrame:
    """Plant >=window-length duplicated RUNS on the run-free fixture:
    every 4th doc carries one copy of a 24-token boilerplate (cross-
    doc duplication; 5 consecutive duplicated 20-windows → island
    merge does real work), every 10th doc carries two ADJACENT copies
    (within-doc duplication + windows straddling the copy boundary),
    and each doc ends with a unique tail so span edges sit strictly
    inside the text. concat_ws skips the NULL slots identically in
    both engines."""
    i = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            # every 20th doc ALSO leads with the boilerplate: a second
            # duplicated region separated from the tail plants by the
            # base text, so n_spans >= 2 and a span at position 0 are
            # both exercised
            F.when(i % 20 == 0, F.lit(_SUBSTR_BOILER)),
            F.coalesce(F.col("text"), F.lit("")),
            F.when(i % 4 == 0, F.lit(_SUBSTR_BOILER)),
            F.when(
                i % 10 == 0,
                F.lit(_SUBSTR_BOILER + " " + _SUBSTR_BOILER),
            ),
            F.concat(
                F.lit("tail "), i.cast("string"), F.lit(" ends here")
            ),
        ).alias("text"),
    )


def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2021) over the
    run-augmented corpus: per-doc duplicated-window/span/coverage
    counts plus the reconstructed keep-first survivor text."""
    from solana_etl_pipeline_spark.llm.substrings import (
        duplicate_span_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    rep = duplicate_span_report(_substr_augmented(docs), window=20)
    return rep.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_dup_windows",
        "n_spans",
        "dup_tokens",
        "clean_text",
    )



def llm_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round (Sennrich et al. 2016, arXiv:1508.07909):
    the most frequent adjacent character pairs across the corpus,
    weighted by word frequency — the statistic every merge step of
    tokenizer training maximizes.

    Scale shape — the reason BPE training is feasible at 100 TB: the
    corpus is touched ONCE (one hash aggregation to the word-frequency
    vocabulary, map-side combined); pair explosion then runs over the
    VOCABULARY (bounded by distinct words, not corpus rows), and the
    final top-20 compiles to TakeOrderedAndProject. Iterating merges
    re-runs only the vocab-sized stages. 1-char words are guarded
    from Spark's descending sequence(1, 0) like llm/substrings.py."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize.words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pair_arr = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = vocab.select(F.explode(pair_arr).alias("pair"), "c")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


QUERIES: dict[str, QuerySpec] = {
    "llm_bpe_top_pairs": QuerySpec(
        spark=llm_bpe_top_pairs,
        oracle=f"""
            WITH w AS (
              SELECT {tokenize.words_sql("text")} AS ws FROM documents),
            tok AS (SELECT unnest(ws) AS t FROM w),
            vocab AS (
              SELECT t, count(*) AS c FROM tok WHERE t <> '' GROUP BY 1),
            pairs AS (
              SELECT substr(t, CAST(i AS INT), 2) AS pair, c
              FROM (SELECT t, c, unnest(range(1, len(t))) AS i
                    FROM vocab))
            SELECT pair, CAST(sum(c) AS BIGINT) AS n
            FROM pairs GROUP BY 1
            ORDER BY n DESC, pair LIMIT 20
        """,
        doc="First BPE merge round: corpus-weighted adjacent character "
        "pairs, vocab-sized pair stage, top-20",
        tags=("SS2.11",),
    ),
    "llm_substring_dedup": QuerySpec(
        spark=llm_substring_dedup,
        oracle=f"""
            -- Full recompute: windows grouped on the raw 20-token
            -- gram (the engine groups xxhash64-pair digests —
            -- identical up to collisions, convention 2). Keep-first order uses
            -- doc_id*1000000+pos, equivalent to the engine's
            -- min(struct(doc_id, pos)) while positions stay below
            -- 1e6 (fixture docs are ~100 tokens).
            WITH aug AS (
              SELECT doc_id,
                     concat_ws(' ',
                       CASE WHEN doc_id % 20 = 0
                            THEN '{_SUBSTR_BOILER}' END,
                       coalesce(text, ''),
                       CASE WHEN doc_id % 4 = 0
                            THEN '{_SUBSTR_BOILER}' END,
                       CASE WHEN doc_id % 10 = 0
                            THEN '{_SUBSTR_BOILER}' || ' ' ||
                                 '{_SUBSTR_BOILER}' END,
                       'tail ' || CAST(doc_id AS VARCHAR) || ' ends here')
                       AS text
              FROM documents),
            w AS (
              SELECT doc_id,
                     {tokenize.words_sql("text")} AS ws
              FROM aug),
            win AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                     array_to_string(
                       ws[CAST(i AS INT):CAST(i AS INT) + 19],
                       ' ') AS gram
              FROM (SELECT doc_id, ws,
                           unnest(range(1, len(ws) - 20 + 2)) AS i
                    FROM w)),
            keep AS (
              SELECT gram, min(doc_id * 1000000 + pos) AS first
              FROM win GROUP BY 1),
            dups AS (
              SELECT win.doc_id, win.pos
              FROM win JOIN keep USING (gram)
              WHERE win.doc_id * 1000000 + win.pos <> keep.first),
            marked AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER wd IS NULL
                          OR pos > lag(pos) OVER wd + 20
                          THEN 1 ELSE 0 END AS nw
              FROM dups
              WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
            isl AS (
              SELECT doc_id, pos,
                     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS g
              FROM marked),
            spans AS (
              SELECT doc_id, g, min(pos) AS s, max(pos) + 20 AS e
              FROM isl GROUP BY 1, 2),
            sstats AS (
              SELECT doc_id, count(*) AS n_spans,
                     CAST(sum(e - s) AS BIGINT) AS dup_tokens
              FROM spans GROUP BY 1),
            dcnt AS (
              SELECT doc_id, count(*) AS n_dup_windows
              FROM dups GROUP BY 1),
            tokpos AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                     ws[CAST(i AS INT)] AS tok
              FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
                    FROM w)),
            cov AS (
              SELECT doc_id, unnest(range(s, e)) AS pos FROM spans),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok
              FROM tokpos t
              LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
              WHERE c.pos IS NULL),
            clean AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY pos) AS clean_text
              FROM kept GROUP BY 1)
            SELECT w.doc_id,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   coalesce(dcnt.n_dup_windows, 0) AS n_dup_windows,
                   coalesce(sstats.n_spans, 0) AS n_spans,
                   coalesce(sstats.dup_tokens, 0) AS dup_tokens,
                   coalesce(clean.clean_text, '') AS clean_text
            FROM w
            LEFT JOIN dcnt ON dcnt.doc_id = w.doc_id
            LEFT JOIN sstats ON sstats.doc_id = w.doc_id
            LEFT JOIN clean ON clean.doc_id = w.doc_id
        """,
        doc="Exact substring-span dedup (Lee et al. 2021, window-hash "
        "form): keep-first duplicated 20-token windows merged into "
        "spans, survivor text reconstructed",
        tags=("SS2.11",),
    ),
    "llm_exact_dedup": QuerySpec(
        spark=llm_exact_dedup,
        oracle="""
            -- coalesce mirrors the engine's concat_ws-based
            -- content_hash, which renders NULL text as '' — a
            -- null-text doc and an empty-text doc are the same
            -- content group in both engines
            SELECT min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY coalesce(text, '')
        """,
        doc="Content-hash exact dedup groups (sha256; oracle groups raw text)",
        tags=("§2.11", "A7"),
    ),
    "llm_text_stats": QuerySpec(
        spark=llm_text_stats,
        oracle=f"""
            WITH per_doc AS (
              SELECT lang,
                     len(text) AS n_chars,
                     len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) AS n_words,
                     round(list_sum(list_transform(
                         string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                         w -> len(w))) * 1.0
                       / len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')), 6)
                       AS avg_word_len,
                     round(len(list_filter(
                         string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                         w -> w IN ({_STOP_SQL}))) * 1.0
                       / len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')), 6)
                       AS stopword_ratio
              FROM documents)
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   round(avg(n_words), 4) AS avg_words,
                   round(avg(avg_word_len), 4) AS avg_word_len,
                   round(avg(stopword_ratio), 4) AS avg_stopword_ratio
            FROM per_doc GROUP BY lang
        """,
        doc="Per-language text statistics",
        tags=("§2.11",),
    ),
    "llm_token_count": QuerySpec(
        spark=llm_token_count,
        oracle=f"""
            WITH per_doc AS (
              SELECT source,
                     len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) AS ws_tokens,
                     len(regexp_extract_all(text,
                         '{TOKEN_REGEX.replace("'", "''")}')) AS bpe_tokens
              FROM documents)
            SELECT source,
                   CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
                   CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
                   round(avg(ws_tokens), 4) AS avg_ws_tokens
            FROM per_doc GROUP BY source
        """,
        doc="Whitespace + BPE-ish regex token counting",
        tags=("§2.11",),
    ),
    "llm_quality_banding": QuerySpec(
        spark=llm_quality_banding,
        oracle=f"""
            WITH s AS (
              SELECT doc_id,
                     len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) AS n_words,
                     round(len(list_filter(
                         string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                         w -> w IN ({_STOP_SQL}))) * 1.0
                       / len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')), 6)
                       AS stop_ratio,
                     round(len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
                       / len(text), 6) AS punct_ratio,
                     round(len(regexp_extract_all(text, '[0-9]')) * 1.0
                       / len(text), 6) AS digit_ratio
              FROM documents),
            scored AS (
              SELECT doc_id,
                     round(greatest(0.0, least(100.0,
                       0.4 * least(100.0, n_words * 2.0)
                       + 0.3 * (100.0 - abs(stop_ratio - 0.4) * 200.0)
                       + 0.3 * (100.0 - (punct_ratio + digit_ratio) * 500.0)
                     )), 6) AS quality
              FROM s)
            SELECT CASE WHEN quality > 80.0 THEN 'HIGH'
                        WHEN quality > 50.0 THEN 'MEDIUM'
                        ELSE 'LOW' END AS band,
                   count(*) AS n_docs,
                   round(avg(quality), 4) AS avg_quality
            FROM scored GROUP BY 1
        """,
        doc="Heuristic quality score + banding",
        tags=("§2.11", "F11"),
    ),
    "llm_lang_id": QuerySpec(
        spark=llm_lang_id,
        oracle="""
            WITH scores AS (
              SELECT lang,
                     len(list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                         w -> w IN ('the','and','of'))) AS s_en,
                     len(list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                         w -> w IN ('el','la','de'))) AS s_es,
                     len(list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                         w -> w IN ('der','die','und'))) AS s_de
              FROM documents),
            pred AS (
              SELECT lang,
                     CASE
                       WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de THEN 'en'
                       WHEN s_es > 0 AND s_es >= s_de THEN 'es'
                       WHEN s_de > 0 THEN 'de'
                       ELSE 'und' END AS predicted
              FROM scores)
            SELECT lang, predicted, count(*) AS n_docs
            FROM pred GROUP BY 1, 2
        """,
        doc="Marker-word language-ID heuristic, confusion counts",
        tags=("§2.11",),
    ),
    "llm_fingerprint": QuerySpec(
        spark=llm_fingerprint,
        oracle="""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) AS w,
                     generate_subscripts(
                       string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '), 1) AS pos
              FROM documents)
            SELECT doc_id,
                   CAST(sum(pos * (31 * len(w) + ascii(w))) % 2147483647
                        AS BIGINT) AS fingerprint
            FROM words GROUP BY doc_id
        """,
        doc="Order-sensitive rolling document fingerprint",
        tags=("§2.11",),
    ),
    "llm_edit_distance_near_dup": QuerySpec(
        spark=llm_edit_distance_near_dup,
        # Byte-vs-codepoint levenshtein divergence is moot on the
        # ASCII fixture corpus (documented in llm/dedup.py).
        oracle=f"""
            WITH d AS (
              SELECT doc_id, lower(text) AS t FROM documents
              WHERE text IS NOT NULL),
            blocked AS (
              SELECT doc_id, t,
                     length(t) // {ED_LEN_BUCKET} AS len_b,
                     substr(t, 1, {ED_PREFIX_CHARS}) AS pre
              FROM d)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_distance
            FROM blocked a JOIN blocked b
              ON a.len_b = b.len_b AND a.pre = b.pre
                 AND a.doc_id < b.doc_id
            WHERE levenshtein(a.t, b.t) <= {ED_MAX_DIST}
        """,
        doc="Blocked Levenshtein near-dup pairs (char-level detector)",
        tags=("§2.11",),
    ),
    "llm_minhash_near_dup": QuerySpec(
        spark=llm_minhash_near_dup,
        oracle=f"""
            WITH {_JACCARD_PAIRS_CTES}
            SELECT id_a, id_b, jaccard FROM jacc_pairs
        """,
        doc="MinHash-LSH candidates, exact-Jaccard-verified vs all-pairs truth",
        tags=("§2.11",),
    ),
    "llm_near_dup_survivors": QuerySpec(
        spark=llm_near_dup_survivors,
        # Recursive min-label closure over the verified pair graph:
        # comp(id) = smallest reachable doc_id; survivors are docs in
        # no component or carrying their component's label.
        oracle=f"""
            WITH RECURSIVE {_JACCARD_PAIRS_CTES},
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM jacc_pairs
              UNION
              SELECT id_b AS src, id_a AS dst FROM jacc_pairs),
            reach(id, comp) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, r.comp
              FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (
              SELECT id, min(comp) AS comp FROM reach GROUP BY id),
            survivors AS (
              SELECT d.source, d.n_chars
              FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
              WHERE c.id IS NULL OR c.comp = d.doc_id)
            SELECT source, count(*) AS n_survivors,
                   CAST(sum(n_chars) AS BIGINT) AS surviving_chars
            FROM survivors GROUP BY source
        """,
        doc="Fuzzy dedup end-to-end: pairs → components → canonical keep",
        tags=("§2.11",),
    ),
    "llm_megabucket_star_survivors": QuerySpec(
        spark=llm_megabucket_star_survivors,
        # The same survivors SQL as llm_near_dup_survivors over the
        # RAW (sliced) corpus — deliberately: the planted clone
        # cluster provably cancels out of the survivor summary (doc 0
        # is every triggered bucket's min-id star representative,
        # clones verify at jaccard 1.0 and lose the min-id keep), so
        # equivalence to the raw-corpus ground truth IS the check
        # that the cap-triggered star path preserved component
        # structure.
        oracle=f"""
            WITH RECURSIVE docs_lim AS (
              SELECT * FROM documents WHERE doc_id < {MEGABUCKET_SLICE}),
            {_jaccard_pairs_ctes("docs_lim")},
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM jacc_pairs
              UNION
              SELECT id_b AS src, id_a AS dst FROM jacc_pairs),
            reach(id, comp) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, r.comp
              FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (
              SELECT id, min(comp) AS comp FROM reach GROUP BY id),
            survivors AS (
              SELECT d.source, d.n_chars
              FROM docs_lim d LEFT JOIN comp c ON c.id = d.doc_id
              WHERE c.id IS NULL OR c.comp = d.doc_id)
            SELECT source, count(*) AS n_survivors,
                   CAST(sum(n_chars) AS BIGINT) AS surviving_chars
            FROM survivors GROUP BY source
        """,
        doc="Star-cap TRIGGERED on a planted mega-bucket; survivor-set equivalence",
        tags=("§2.11",),
    ),
    "llm_simhash_near_dup": QuerySpec(
        spark=llm_simhash_near_dup,
        oracle="""
            -- signability guard mirrors the engine exactly: a doc is
            -- simhash-able iff it has at least one non-WHITESPACE
            -- character (tab/newline-only docs tokenize to no valid
            -- token and are dropped) — space-only trim() would let a
            -- tab-only doc through
            SELECT doc_id AS id_a,
                   doc_id + (SELECT max(doc_id) + 1 FROM documents) AS id_b,
                   0 AS hamming
            FROM documents
            WHERE doc_id < 50
              AND regexp_replace(coalesce(text, ''), '\\s', '', 'g') <> ''
        """,
        doc="SimHash banded candidates rediscover order-permuted twins",
        tags=("§2.11",),
    ),
    "llm_ngram_jaccard": QuerySpec(
        spark=llm_ngram_jaccard,
        oracle="""
            -- coalesce(text, '') throughout: the engine's verify
            -- stage KEEPS degenerate docs (shingle set ['']) because
            -- it scores an explicit pair list — unlike the candidate
            -- generators, which drop them. A null-text doc must get
            -- its [''] shingle row here or the sizes inner join
            -- silently drops the pair.
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) AS w,
                     generate_subscripts(
                       string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                       1) AS pos
              FROM documents),
            shingles AS (
              SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
              FROM words a
              JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
              JOIN words c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
              UNION
              -- short-doc whole-text shingle (see _JACCARD_PAIRS_CTES)
              SELECT doc_id,
                     array_to_string(
                       string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '),
                       ' ') AS sh
              FROM documents
              WHERE len(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' '))
                    < 3),
            sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1),
            pairs AS (
              SELECT d1.doc_id AS id_a, d1.doc_id + 1 AS id_b
              FROM documents d1
              JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
            inter AS (
              SELECT p.id_a, p.id_b, count(*) AS n_inter
              FROM pairs p
              JOIN shingles sa ON sa.doc_id = p.id_a
              JOIN shingles sb ON sb.doc_id = p.id_b AND sb.sh = sa.sh
              GROUP BY 1, 2)
            SELECT p.id_a, p.id_b,
                   round(coalesce(i.n_inter, 0) * 1.0
                         / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 6)
                     AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
            JOIN sizes za ON za.doc_id = p.id_a
            JOIN sizes zb ON zb.doc_id = p.id_b
        """,
        doc="Exact n-gram Jaccard verify stage (SQL-expressible pair set)",
        tags=("§2.11",),
    ),
    "llm_embedding_near_dup": QuerySpec(
        spark=llm_embedding_near_dup,
        oracle="""
            -- null/EMPTY vectors are excluded UP FRONT: the engine's
            -- SRP stage drops them (NULL signature for null/ragged
            -- inputs), and DuckDB's list_inner_product raises
            -- outright on a NULL list or a length mismatch rather
            -- than returning NULL
            WITH aug AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE embedding IS NOT NULL AND len(embedding) > 0
              UNION ALL
              SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
                     embedding::DOUBLE[]
              FROM embeddings
              WHERE vec_id < 20 AND embedding IS NOT NULL
                AND len(embedding) > 0)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_inner_product(a.v, b.v)
                         / (sqrt(list_inner_product(a.v, a.v))
                            * sqrt(list_inner_product(b.v, b.v))),
                         6) AS cosine
            FROM aug a JOIN aug b ON b.vec_id > a.vec_id
            WHERE round(list_inner_product(a.v, b.v)
                        / (sqrt(list_inner_product(a.v, a.v))
                           * sqrt(list_inner_product(b.v, b.v))),
                        6) >= 0.9
              -- zero-norm guard: DuckDB orders NaN above every number
              -- so 0/0 would satisfy >= 0.9 here while Spark's NaN
              -- comparison is false — a zero vector must pair in
              -- neither engine
              AND list_inner_product(a.v, a.v) > 0
              AND list_inner_product(b.v, b.v) > 0
        """,
        doc="Embedding-cosine near-dup via LSH buckets vs all-pairs truth",
        tags=("§2.11",),
    ),
    "llm_cosine_topk": QuerySpec(
        spark=llm_cosine_topk,
        oracle="""
            WITH q AS (SELECT vec_id AS query_id,
                              embedding::DOUBLE[] AS qvec
                       FROM embeddings WHERE vec_id < 5),
            pairs AS (
              -- dim-mismatched (e.g. zero-length) corpus vectors get
              -- a NULL cosine in the engine (zip_with null-padding)
              -- and rank last, so they can never reach the top-k;
              -- DuckDB's list_inner_product instead RAISES on a
              -- length mismatch, so exclude them up front
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(
                       list_inner_product(q.qvec, e.embedding::DOUBLE[])
                       / (sqrt(list_inner_product(q.qvec, q.qvec))
                          * sqrt(list_inner_product(e.embedding::DOUBLE[],
                                                    e.embedding::DOUBLE[]))),
                       6) AS cosine
              FROM q, embeddings e
              WHERE e.vec_id <> q.query_id
                AND e.embedding IS NOT NULL
                AND len(e.embedding) = len(q.qvec)),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
              FROM pairs)
            SELECT query_id, neighbor_id, rank, cosine
            FROM ranked WHERE rank <= 5
        """,
        doc="Exact brute-force cosine top-k (ANN baseline)",
        tags=("§2.11",),
    ),
    "llm_lsh_cosine_topk": QuerySpec(
        spark=llm_lsh_cosine_topk,
        oracle="""
            -- signability guard: the SRP stage emits NULL signatures
            -- for null/ragged vectors and drops them, and a zero-norm
            -- vector's cosine is NULL (0/0) in the exact re-rank so
            -- its twin never reaches rank 1 — such a query has no
            -- twin row
            SELECT vec_id AS query_id,
                   vec_id + (SELECT max(vec_id) + 1 FROM embeddings)
                     AS neighbor_id,
                   1 AS rank, CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings
            WHERE vec_id < 5 AND embedding IS NOT NULL
              AND len(embedding) > 0
              AND list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
        """,
        doc="Hyperplane-LSH cosine top-k finds planted twins at rank 1",
        tags=("§2.11",),
    ),
    "llm_ivf_cosine_topk": QuerySpec(
        spark=llm_ivf_cosine_topk,
        oracle="""
            -- same signability guard as the LSH probe (null/empty/
            -- zero-norm vectors produce no rank-1 twin)
            SELECT vec_id AS query_id,
                   vec_id + (SELECT max(vec_id) + 1 FROM embeddings)
                     AS neighbor_id,
                   1 AS rank, CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings
            WHERE vec_id < 5 AND embedding IS NOT NULL
              AND len(embedding) > 0
              AND list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
        """,
        doc="IVF cosine top-k (k-means codebook) finds planted twins",
        tags=("§2.11",),
    ),
    "llm_pq_cosine_topk": QuerySpec(
        spark=llm_pq_cosine_topk,
        oracle="""
            -- same signability guard as the LSH/IVF probes: a
            -- null/empty vector never encodes (NULL codes are
            -- dropped), and a zero-norm query's exact-cosine re-rank
            -- is NULL, so such a query has no rank-1 twin row
            SELECT vec_id AS query_id,
                   vec_id + (SELECT max(vec_id) + 1 FROM embeddings)
                     AS neighbor_id,
                   1 AS rank, CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings
            WHERE vec_id < 5 AND embedding IS NOT NULL
              AND len(embedding) > 0
              AND list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
        """,
        doc="PQ/ADC cosine top-k (product codebook) finds planted twins",
        tags=("§2.11",),
    ),
    "llm_ivfpq_cosine_topk": QuerySpec(
        spark=llm_ivfpq_cosine_topk,
        oracle="""
            -- same signability guard as the LSH/IVF/PQ probes
            SELECT vec_id AS query_id,
                   vec_id + (SELECT max(vec_id) + 1 FROM embeddings)
                     AS neighbor_id,
                   1 AS rank, CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings
            WHERE vec_id < 5 AND embedding IS NOT NULL
              AND len(embedding) > 0
              AND list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
        """,
        doc="IVF-PQ composed index (cells x codes) finds planted twins",
        tags=("§2.11",),
    ),
    "llm_incremental_near_dup": QuerySpec(
        spark=llm_incremental_near_dup,
        oracle="""
            -- signability guard: docs with no non-whitespace char
            -- produce only degenerate shingles, never enter the
            -- signature store, and their copies produce no verdict
            -- (mirrors minhash_signatures' whitespace-aware drop)
            SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
                     AS new_id,
                   doc_id AS dup_of,
                   CAST(1.0 AS DOUBLE) AS est_jaccard,
                   'index' AS scope
            FROM documents
            WHERE doc_id < 20
              AND regexp_replace(coalesce(text, ''), '\\s', '', 'g') <> ''
        """,
        doc="Incremental store probe flags planted copies cross-batch",
        tags=("§2.11",),
    ),
    "llm_token_heavy_hitters": QuerySpec(
        spark=llm_token_heavy_hitters,
        oracle="""
            WITH toks AS (
              SELECT unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r\f]+', ' ', 'g'), ' '), ' ')) AS term
              FROM documents),
            counts AS (
              SELECT term, count(*) AS exact_count FROM toks
              WHERE term IS NOT NULL AND term <> '' GROUP BY term),
            top5 AS (
              SELECT term, exact_count FROM counts
              ORDER BY exact_count DESC, term LIMIT 5)
            SELECT term, exact_count,
                   exact_count AS approx_count,
                   CAST(0 AS BIGINT) AS err
            FROM top5
        """,
        doc="approx_top_k frequent tokens, err-pinned against exact",
        tags=("§2.11", "A2"),
    ),
    "llm_multimodal_featurize": QuerySpec(
        spark=llm_multimodal_featurize,
        oracle="""
            SELECT doc_id AS asset_id,
                   'text' AS modality,
                   octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS digest,
                   round(('0x' || substr(sha256(text), 1, 2))::INT / 255.0, 6)
                     AS feat0
            FROM documents
        """,
        doc="Binary multimodal column + Arrow mapInPandas featurizer",
        tags=("§2.11", "D4", "D2"),
    ),
    "llm_image_header_stats": QuerySpec(
        spark=llm_image_header_stats,
        # Planted-metadata twin: the Spark path synthesizes real
        # PNG/JPEG header bytes from doc_id and PARSES them back; the
        # oracle computes the same dimensions arithmetically. Byte-level
        # spec conformance is pinned by tests/test_multimodal.py golden
        # fixtures.
        oracle="""
            WITH hdr AS (
              SELECT
                CASE WHEN doc_id % 3 = 0 THEN 'png'
                     WHEN doc_id % 3 = 1 THEN 'jpeg' END AS format,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 317
                          WHEN doc_id % 3 = 1 THEN 16 + doc_id % 489
                     END AS INTEGER) AS width,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 211
                          WHEN doc_id % 3 = 1 THEN 16 + doc_id % 367
                     END AS INTEGER) AS height,
                CAST(CASE
                     WHEN doc_id % 3 = 0 THEN
                       CASE WHEN list_extract([0, 2, 3, 4, 6],
                                 CAST(doc_id % 5 AS INTEGER) + 1) = 3
                              THEN 8
                            WHEN doc_id % 2 = 0 THEN 16
                            ELSE 8 END
                     WHEN doc_id % 3 = 1 THEN 8
                     END AS INTEGER) AS bit_depth,
                CAST(CASE
                     WHEN doc_id % 3 = 0 THEN
                       CASE list_extract([0, 2, 3, 4, 6],
                                         CAST(doc_id % 5 AS INTEGER) + 1)
                            WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
                            WHEN 4 THEN 2 WHEN 6 THEN 4 END
                     WHEN doc_id % 3 = 1 THEN
                       CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 3 END
                     END AS INTEGER) AS channels
              FROM documents)
            SELECT format, channels, bit_depth,
                   count(*) AS n,
                   CAST(sum(width) AS BIGINT) AS sum_width,
                   CAST(sum(height) AS BIGINT) AS sum_height,
                   CAST(sum(CAST(width AS BIGINT) * height) AS BIGINT)
                     AS sum_pixels,
                   min(width) AS min_width,
                   max(width) AS max_width,
                   min(height) AS min_height,
                   max(height) AS max_height
            FROM hdr
            GROUP BY format, channels, bit_depth
        """,
        doc="Codec-free PNG IHDR / JPEG SOFn header parse over planted "
            "binary payloads (planted-metadata-twin oracle)",
        tags=("§2.11", "D4"),
    ),
    "llm_media_header_stats": QuerySpec(
        spark=llm_media_header_stats,
        # Planted-metadata twin (audio/video): Spark synthesizes real
        # WAV/MP4 header bytes from doc_id and parses them back; the
        # oracle recomputes the metadata arithmetically. Byte-level
        # spec conformance pinned by tests/test_multimodal.py goldens.
        oracle="""
            WITH hdr AS (
              SELECT
                CASE WHEN doc_id % 3 = 0 THEN 'wav'
                     WHEN doc_id % 3 = 1 THEN 'mp4' END AS format,
                CAST(CASE WHEN doc_id % 3 = 0 THEN
                            CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                     END AS INTEGER) AS channels,
                CAST(CASE WHEN doc_id % 3 = 0 THEN
                            list_extract(
                              [8000, 16000, 22050, 44100, 48000],
                              CAST(doc_id % 5 AS INTEGER) + 1)
                     END AS INTEGER) AS sample_rate,
                CAST(CASE WHEN doc_id % 3 = 0 THEN
                            CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 16 END
                     END AS INTEGER) AS bit_depth,
                CAST(CASE
                     WHEN doc_id % 3 = 0 THEN
                       ((1000 + doc_id % 977) * 1000)
                         // list_extract(
                              [8000, 16000, 22050, 44100, 48000],
                              CAST(doc_id % 5 AS INTEGER) + 1)
                     WHEN doc_id % 3 = 1 THEN
                       ((CASE WHEN doc_id % 2 = 1
                              THEN 1000 ELSE 90000 END
                         * (1 + doc_id % 59) + doc_id % 7) * 1000)
                         // CASE WHEN doc_id % 2 = 1
                                 THEN 1000 ELSE 90000 END
                     END AS BIGINT) AS duration_ms,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                          WHEN doc_id % 3 = 1 THEN
                            1 + CAST((doc_id // 3) % 3 AS INTEGER)
                     END AS INTEGER) AS n_tracks
              FROM documents)
            SELECT format,
                   count(*) AS n,
                   CAST(sum(channels) AS BIGINT) AS sum_channels,
                   CAST(sum(sample_rate) AS BIGINT) AS sum_sample_rate,
                   CAST(sum(bit_depth) AS BIGINT) AS sum_bit_depth,
                   CAST(sum(duration_ms) AS BIGINT) AS sum_duration_ms,
                   CAST(sum(n_tracks) AS BIGINT) AS sum_tracks,
                   min(duration_ms) AS min_duration_ms,
                   max(duration_ms) AS max_duration_ms
            FROM hdr
            GROUP BY format
        """,
        doc="Codec-free WAV RIFF / MP4 box-walk header parse over "
            "planted binary payloads (planted-metadata-twin oracle)",
        tags=("§2.11", "D4"),
    ),
}
