"""Deduplication operators: exact, MinHash-LSH, SimHash.

Scale design (the part that matters at 100 TB):

- **Exact** dedup is one hash aggregate on a 256-bit content digest —
  shuffle is proportional to distinct contents, never all-pairs.
- **MinHash near-dup** is the banded-LSH construction (Broder '97;
  Leskovec/Rajaraman/Ullman ch.3): shingle → k min-hash permutations →
  b bands of r rows → exact-match bucket join on (band, band-hash).
  Candidate generation is a self-equi-join on bucket keys — the only
  quadratic step is *within* a bucket, which is the whole point.
  NEVER an all-pairs cross join. Every pair generator here runs that
  join, and its mega-bucket cap, through :func:`_bucket_pairs`.
- **SimHash** (Charikar '02): 64-bit signature whose per-bit sign is
  the weighted majority of token-hash bits; near-dups have small
  Hamming distance. Candidates come from exact-match joins on 16-bit
  signature bands (Hamming ≤ 3 ⇒ at least one of 4 bands identical).

Signatures are map-only Arrow ``pandas_udf`` passes (one per document,
no shuffle); shingles, band hashes, bucket joins and verifies are
built-in expressions.

Caching contract: the pair generators (`minhash_near_dup_pairs`,
`ngram_jaccard_for_pairs`, `embedding_near_dup_pairs`,
`simhash_candidate_pairs`) ``persist()`` their signature/shingle
intermediates because each feeds 2-3 plan branches. The returned
DataFrames are lazy — unpersisting before return would just recompute
the intermediate once per branch — so every internal persist in the
llm family (made through :func:`_persist`) lives as long as the
session's cache. Its owner releases it with
``spark.catalog.clearCache()`` between runs (``bench.py`` and
``perfbench/`` do, per query). Spark keys a cached table by its
analyzed plan, so re-running the same query reuses its entry instead
of adding one.

At cluster scale you'd write the signature table out once and re-read
it instead (that is what ``llm/incremental.py`` does).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm import tokenize


def _persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """``persist()`` for the llm family's internal frames: the one
    place they cache, for the session's cache lifetime (see the module
    docstring).

    ``eager=True`` materializes the cache (one ``count()``) before
    returning. Use it when the persisted frame fans out into
    CONCURRENTLY-SCHEDULED stages of the same job — e.g. both sides
    of a self-join, or the ``sig_a``/``sig_b`` legs of a pair
    re-join. ``persist()`` alone is lazy, and Spark schedules
    independent stages in parallel, so every cold-cache consumer
    stage races to compute the same partitions and an expensive
    upstream (the Arrow signature UDF) runs once PER RACING STAGE
    instead of once: the r11 third-decade decomposition measured the
    integrated survivors pipeline at ~2× the sum of its
    barrier-separated stages (680 s vs ~350 s at 10 M docs) from
    exactly this. The eager count costs one extra scan when there is
    a single consumer — only set it at known fan-out sites.

    Each eager count is also a serial JOB BARRIER, and at fixture
    scale the barriers cost more than the races they prevent: an
    interleaved sf0.1 A/B on `llm_minhash_near_dup` measured eager on
    ALL four of its persists at min 2.80 s vs 2.45 s lazy (+14%).
    Set eager only where the cached plan is itself expensive (the
    shingle regex, the Arrow signature UDFs, the embedding sign
    projections) —
    cheap tables derived from an already-warm cache (band
    projections, the broadcast-tagged split) stay lazy: a racing
    stage recomputing them re-reads the warm upstream cache, which
    is a map, not a second UDF pass.
    """
    df = df.persist()
    if eager:
        df.count()
    return df


#: Mersenne prime 2^31-1: permutation-hash modulus (fits in a long
#: with room for a*h+b before the mod).
_P = 2_147_483_647


def content_hash(*cols: Column) -> Column:
    """256-bit content digest over the concatenated columns (with a
    field separator so ("ab","c") != ("a","bc"))."""
    return F.sha2(F.concat_ws("", *cols), 256)


def exact_dedup_groups(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct
    content with the surviving (minimum) id and the duplicate count.

    ``dropDuplicates`` gives the same survivors nondeterministically;
    min-id keep is the deterministic form an oracle can check.
    """
    return (
        df.withColumn(
            "content_hash", content_hash(*[F.col(c) for c in content_cols])
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_list(t: "str | None", shingle_len: int) -> list[str]:
    """Plain-Python shingle builder for the Arrow signature stage and
    the reference the tests pin :func:`shingle_sets` to: tokenization
    via :func:`tokenize.py_words` (the conventions live there);
    ``dict.fromkeys`` keeps ``array_distinct``'s first-occurrence
    order; a document of at most ``shingle_len`` words (null text
    included) is one whole-text shingle."""
    words = tokenize.py_words(t)
    n = len(words)
    if n <= shingle_len:
        return [" ".join(words)]
    return list(
        dict.fromkeys(
            " ".join(words[i : i + shingle_len])
            for i in range(n - shingle_len + 1)
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_len: int
) -> DataFrame:
    """(_id, _sh: array<string>) — distinct word n-gram shingles.

    One JVM regex over :func:`tokenize.normalized` text, whose words
    are joined by single spaces: at each word start a lookahead
    captures the next ``shingle_len`` words, so overlapping grams come
    out of one ``regexp_extract_all``. A document of at most
    ``shingle_len`` words is one whole-text shingle. No Python worker
    and no per-position lambda. For 5k documents at n=5 on 4 cores it
    measured 0.7–1.3 core-s against 1.9–4.1 for the former Arrow
    ``pandas_udf`` at 10–99 words, and 4.4–6.0 against 5.4–6.5 at
    100–999 words. Pinned to :func:`_shingle_list` by
    ``tests/test_hardening.py`` and ``tests/test_properties.py``.

    The normalized text is its own projection so that every reference
    below reads it instead of re-deriving it. Explode ``_sh`` with
    ``explode_outer``: it is never empty, and an inner ``explode``
    infers a ``size(_sh) > 0`` filter that computes the set again.
    """
    norm = df.select(
        F.col(id_col).alias("_id"),
        tokenize.normalized(F.col(text_col)).alias("_s"),
    )
    s = F.col("_s")
    n_words = F.length(s) - F.length(F.replace(s, F.lit(" "), F.lit(""))) + 1
    gram = f"(?:^| )(?=([^ ]+(?: [^ ]+){{{shingle_len - 1}}}))"
    grams = F.regexp_extract_all(s, F.lit(gram), F.lit(1))
    return norm.select(
        "_id",
        F.when(n_words <= shingle_len, F.array(s))
        .otherwise(F.array_distinct(grams))
        .alias("_sh"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_len: int = 3,
    shingles: DataFrame | None = None,
    keep_shingles: bool = False,
) -> DataFrame:
    """(id, sig: array<long>) — MinHash signature per document.

    MAP-ONLY Arrow path: one base hash per shingle (crc32 → [0, 2^31)),
    then k universal permutations ``h_i(x) = (a_i·x + b_i) mod P``
    reduced with MIN — all inside one vectorized numpy outer-product
    per document, no explode and NO SHUFFLE. A JVM form (explode, k
    codegen min-aggregates) signs a bare corpus for fewer core-seconds,
    yet made the registry queries dearer (sf0.1, 4 cores:
    ``llm_minhash_near_dup`` 3.29 → 4.38 core-s): it needs a group-by
    shuffle and a join back to the shingle sets, where this form is a
    projection of them, so the fused verify
    (:func:`minhash_verified_pairs`) reads both from one cache.
    Signatures are an internal representation; anything persisting
    them must pin the implementation (see ``llm/incremental.py`` meta
    ``sig_impl``).

    Docs whose text yields no real shingle (null/empty text) get no
    signature row. ``shingles`` (a :func:`shingle_sets` result, ideally
    persisted) lets a pipeline that ALSO needs the shingle sets —
    e.g. LSH candidates followed by exact-Jaccard verify — parse and
    shingle the corpus text once instead of once per stage.
    """
    import zlib

    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    odd = np.arange(1, 2 * num_hashes, 2, dtype=np.int64)
    off = (982_451_653 * np.arange(num_hashes, dtype=np.int64)) % _P

    def _sig_of(sh: "list[str] | None") -> "np.ndarray | None":
        if sh is None:
            return None
        # drop degenerate shingles: '' (null/empty text) AND
        # spaces-only (whitespace-only text tokenizes to empty words
        # joined by ' ') — either way every such doc would share one
        # signature and pair with every other degenerate doc.
        # strip(' ') suffices: words from the \s+ split are
        # whitespace-free, so any whitespace in a shingle is the ' '
        # joiner.
        bases = np.array(
            [
                zlib.crc32(s.encode()) & 0x7FFFFFFF
                for s in sh
                if s.strip(" ")
            ],
            dtype=np.int64,
        )
        if bases.size == 0:
            return None
        return ((bases[:, None] * odd[None, :] + off[None, :]) % _P).min(
            axis=0
        )

    if shingles is not None:
        @F.pandas_udf(ArrayType(LongType()))
        def _sig(shs: pd.Series) -> pd.Series:
            return pd.Series([_sig_of(sh) for sh in shs], dtype=object)

        # keep_shingles: signatures are a pure projection of the
        # shingle frame, so carrying ``_sh`` through is a column
        # append, never a join — the fused verify pass
        # (minhash_verified_pairs) reads both from one cache.
        extra = [F.col("_sh")] if keep_shingles else []
        keyed = shingles.select(
            F.col("_id").alias(id_col),
            _sig(F.col("_sh")).alias("sig"),
            *extra,
        )
    else:
        if keep_shingles:
            raise ValueError(
                "keep_shingles requires a precomputed shingles frame"
            )
        # no shingle consumer downstream: fuse shingling + signing into
        # ONE Arrow stage (one scan, one Python round-trip)
        @F.pandas_udf(ArrayType(LongType()))
        def _sig_from_text(texts: pd.Series) -> pd.Series:
            return pd.Series(
                [_sig_of(_shingle_list(t, shingle_len)) for t in texts],
                dtype=object,
            )

        keyed = df.select(
            F.col(id_col), _sig_from_text(F.col(text_col)).alias("sig")
        )
    return keyed.filter(F.col("sig").isNotNull())


def band_rows(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band_idx, band_hash): skinny LSH bucket rows from full
    MinHash signatures — one xxhash64 over each band's slice of the
    ``sig`` array.

    SINGLE SOURCE of the band-hash scheme: the incremental store
    (``llm/incremental.py``) PERSISTS these hashes in its ``bands/``
    table and probes them on later batches, so batch and incremental
    mode must always hash identically — keep every edit here (review
    r15; the signature representation has the same pin via
    ``_SIG_IMPL``)."""
    return sigs.select(
        F.col(id_col),
        F.posexplode_outer(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def _bucket_pairs(
    rows: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket: int | None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs of the banded-LSH bucket self-join that every
    pair generator in this module runs.

    ``rows`` holds ``(id, *key_cols, *carry)``: one row per document
    and band, keyed by the band's bucket. Two documents that share a
    bucket are a candidate. The result has one row per pair, ``(id_a,
    <carry>_a..., id_b, <carry>_b...)`` with ``id_a < id_b``: carried
    columns ride both ends, so a verify that needs them joins nothing
    back. Only these skinny rows shuffle; callers join wide columns
    (signatures, vectors) back for the surviving pairs alone.

    ``max_bucket`` bounds the quadratic worst case. A bucket of s
    members emits s·(s-1)/2 pairs, so one mega-bucket — boilerplate
    duplicated across millions of documents, the classic web-corpus
    pathology — turns the join into an O(s²) explosion that no
    partitioning can save. A bucket of MORE than ``max_bucket``
    members instead emits the s-1 STAR edges around its minimum id.
    Dedup by connected components then sees the same component
    whenever the verify passes the star edges, which is exact for the
    mass duplication that makes mega-buckets (every member verifies
    against the representative at similarity 1). Pairwise recall
    inside an oversize bucket is the deliberate trade, the same cap
    discipline production LSH dedups apply. ``None`` keeps the clique.

    The cap costs one map-side-combined aggregate that sizes every
    bucket. Only the oversize buckets, with their representative (and
    its carried columns), are kept and BROADCAST: there are at most
    bands·n/max_bucket of them by counting, so the broadcast is
    bounded and the band rows are never re-shuffled (an equi-join
    split measured +65% on the untriggered path). The aggregate is
    persisted, so its broadcast build runs the count shuffle once, and
    ONE left-outer probe tags every band row with its bucket's
    representative (null = within the cap); the persisted tagged rows
    split into clique and star rows by filter — one join execution
    instead of three (anti×2 + star). ``rows`` is persisted for its
    two readers unless the caller already did. On an untriggered
    100 k-doc run the guard measured ~+25% wall (interleaved A/B, min
    3.9 → 4.9 s), against an unbounded quadratic when the pathology
    hits. The persists live for the session's cache (see the module
    docstring).
    """

    def end(side: str) -> list[Column]:
        return [F.col(id_col).alias(f"id_{side}")] + [
            F.col(c).alias(f"{c}_{side}") for c in carry
        ]

    star = None
    if max_bucket is not None:
        if not rows.is_cached:
            rows = _persist(rows)
        # min over a struct would leave the hash aggregate, so a bucket
        # with nothing to carry keeps the plain min id
        rep = F.struct(id_col, *carry) if carry else F.col(id_col)
        oversize = F.broadcast(
            _persist(
                rows.groupBy(*key_cols)
                .agg(
                    F.count(F.lit(1)).alias("_bsz"),
                    F.min(rep).alias("_rep"),
                )
                .filter(F.col("_bsz") > max_bucket)
                .select(*key_cols, "_rep")
            )
        )
        flagged = _persist(rows.join(oversize, key_cols, "left"))
        rep_id = F.col(f"_rep.{id_col}") if carry else F.col("_rep")
        # rep < member always, so (id_a, id_b) is ordered
        star = flagged.filter(
            F.col("_rep").isNotNull() & (F.col(id_col) != rep_id)
        ).select(
            rep_id.alias("id_a"),
            *[F.col(f"_rep.{c}").alias(f"{c}_a") for c in carry],
            *end("b"),
        )
        rows = flagged.filter(F.col("_rep").isNull()).drop("_rep")

    pairs = (
        rows.select(*end("a"), *key_cols)
        .join(rows.select(*end("b"), *key_cols), key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .drop(*key_cols)
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.dropDuplicates(["id_a", "id_b"])


def _with_ends(
    pairs: DataFrame, table: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Join ``table``'s ``cols`` onto both ends of ``(id_a, id_b)``
    pairs by its ``key`` column: column ``c`` arrives as ``c_a`` and
    ``c_b``."""
    for side in ("a", "b"):
        pairs = pairs.join(
            table.select(
                F.col(key).alias(f"id_{side}"),
                *[F.col(c).alias(f"{c}_{side}") for c in cols],
            ),
            f"id_{side}",
        )
    return pairs


def _est_jaccard(a: str, b: str) -> Column:
    """MinHash Jaccard estimate: the fraction of equal entries of two
    signatures."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size(a)


def _exact_jaccard(a: str, b: str) -> Column:
    """Exact Jaccard |A∩B| / |A∪B| of two distinct-element arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_len: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard ≥ threshold).

    Banded LSH: a pair collides if any band of r = k/b signature rows
    matches exactly (collision prob ≈ 1-(1-j^r)^b). Candidates come
    from a bucket equi-join; Jaccard is then *estimated* from the full
    signatures (fraction of equal entries) — no second pass over text.
    ``shingles`` forwards a precomputed :func:`shingle_sets` frame to
    the signature stage (one corpus text parse for LSH + verify).

    ``max_bucket`` stars band buckets larger than the cap around their
    min id (:func:`_bucket_pairs`). ``None`` (default) keeps exact
    clique semantics; at 100 TB, set it (10³–10⁵).
    """
    assert num_hashes % bands == 0
    # The signature table feeds three plan branches (band explode +
    # both ends of the candidate re-join). Without materialization
    # Spark recomputes the signatures per branch — the dominant cost.
    # At cluster scale you'd write signatures to a table once and
    # reuse them across dedup runs.
    sigs = _persist(
        minhash_signatures(
            df, id_col, text_col, num_hashes, shingle_len, shingles=shingles
        ),
        eager=True,
    )
    pair_ids = _bucket_pairs(
        band_rows(sigs, id_col, bands, num_hashes // bands),
        id_col, ["band_idx", "band_hash"], max_bucket,
    )
    return (
        _with_ends(pair_ids, sigs, id_col, ["sig"])
        .withColumn("est_jaccard", F.round(_est_jaccard("sig_a", "sig_b"), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_len: int = 3,
    est_threshold: float = 0.5,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Fused LSH-candidate + exact-verify pass: the composition
    ``minhash_near_dup_pairs → ngram_jaccard_for_pairs`` in ONE
    pipeline with HALF the candidate re-joins (r16 optimization,
    guide §2.4 "remove shuffles outright").

    The composed form joins surviving pair ids back to the signature
    table twice (est-Jaccard) and then to the shingle table twice
    (exact Jaccard) — four id-equi-joins, four exchanges of the pair
    ids. But signatures are a pure projection OF the shingle sets, so
    one persisted ``(_id, _sh, sig)`` frame serves both stages and the
    pair ids join it once per side: est and exact Jaccard evaluate in
    the same projection, and the est filter still short-circuits the
    (costlier) exact array intersection for non-candidates via
    predicate ordering. Two joins, one cache, identical output rows:
    ``(id_a, id_b, jaccard)`` with ``jaccard`` the 1e-6-rounded exact
    n-gram Jaccard, filtered at ``est_jaccard >= est_threshold`` (the
    LSH semantics) AND ``jaccard >= jaccard_threshold`` (the verify) —
    bit-identical to the composed form because both filters and both
    roundings are unchanged.

    At 100 TB the same fusion halves the number of times the pair-id
    table shuffles; the memory trade is that the verify-side cache
    carries shingle arrays alongside signatures (the composed form
    cached them in two separate tables of the same total size).
    ``max_bucket`` is the mega-bucket star cap, forwarded unchanged.
    """
    assert num_hashes % bands == 0
    sh = shingle_sets(df, id_col, text_col, shingle_len)
    # one cache, both stages: (id, sig, _sh) in a single projection of
    # the shingle frame (keep_shingles appends the column — no join).
    combined = _persist(
        minhash_signatures(
            df, id_col, text_col, num_hashes, shingle_len,
            shingles=sh, keep_shingles=True,
        ),
        eager=True,
    )
    pair_ids = _bucket_pairs(
        band_rows(combined.select(id_col, "sig"), id_col, bands,
                  num_hashes // bands),
        id_col, ["band_idx", "band_hash"], max_bucket,
    )
    return (
        _with_ends(pair_ids, combined, id_col, ["sig", "_sh"])
        .withColumn("est_jaccard", F.round(_est_jaccard("sig_a", "sig_b"), 6))
        .filter(F.col("est_jaccard") >= est_threshold)
        .withColumn("jaccard", F.round(_exact_jaccard("_sh_a", "_sh_b"), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard for given candidate pairs (id_a, id_b):
    |A∩B| / |A∪B| over distinct word shingles.

    This is the verify stage after any LSH candidate generator — cost
    is proportional to candidate count, never corpus²: each pair member
    carries its (distinct) shingle set once through two id-equi-joins,
    and the intersect/union counts are per-row array expressions —
    no exploded shingle shuffle, no re-aggregation.

    ``shingles`` reuses a caller-persisted :func:`shingle_sets` frame
    (the caller owns its lifecycle); otherwise shingles are computed
    and persisted here for the session's cache (see the module
    docstring).
    """
    sets_df = (
        shingles
        if shingles is not None
        else _persist(
            shingle_sets(df, id_col, text_col, shingle_len), eager=True
        )
    )  # feeds both sides of the pair join — compute shingles once
    return _with_ends(pairs, sets_df, "_id", ["_sh"]).select(
        "id_a", "id_b",
        F.round(_exact_jaccard("_sh_a", "_sh_b"), 6).alias("jaccard"),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH buckets
    generate candidates (corpus self-join on band keys, never
    all-pairs), exact cosine verifies against ``threshold``.

    Defaults use 8-bit bands: a random (cos≈0) pair collides in a band
    with p≈0.5^8≈0.4%, while a 0.95-cosine pair (bit-match p≈0.9)
    collides in ≥1 of 4 bands with p≈0.9 — near-dup recall stays high
    while candidate volume stays ~linear in corpus size, which is the
    property that matters at scale.

    ``max_bucket`` stars oversize band buckets (mass-duplicated
    embeddings — re-encoded boilerplate) around their min id
    (:func:`_bucket_pairs`); identical vectors verify against the
    representative at cosine 1.0. ``None`` (default) keeps exact
    clique semantics."""
    from solana_etl_pipeline_spark.llm.similarity import (
        _as_double,
        lsh_bucket_assignments,
        pair_cosine,
    )

    buckets = lsh_bucket_assignments(emb, id_col, vec_col, n_planes, n_bands)
    # persist: the 32 sign-projections per vector are interpreted
    # higher-order expressions — compute once, not once per join side
    bands_only = _persist(
        buckets.select(F.col(id_col), "band_idx", "band_val"), eager=True
    )
    pair_ids = _bucket_pairs(
        bands_only, id_col, ["band_idx", "band_val"], max_bucket
    )
    vecs = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    return (
        _with_ends(pair_ids, vecs, id_col, ["v"])
        .withColumn("cosine", F.round(pair_cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: long) — Charikar SimHash over word hashes.

    Bit i of the signature is set iff the sum over token occurrences
    of ±1 (according to bit i of the token's 64-bit hash) is positive.

    MAP-ONLY Arrow path (same rationale as :func:`minhash_signatures`):
    per-doc token counting + one vectorized bit-matrix reduction in
    numpy — no explode, no 64-aggregate shuffle (a JVM form with 64
    conditional-sum aggregates measured 2.43 against this path's 2.14
    core-s on ``llm_simhash_near_dup``, sf0.1, 4 cores). The token
    hash is a crc32 pair (high/low 32 bits, distinct salts);
    signatures are internal, and their structural behavior
    (order-invariance, identical text ⇒ hamming 0, unrelated text ⇒
    large hamming) is pinned by tests. Docs with no valid token
    (null/empty text) get no row.
    """
    import zlib
    from collections import Counter

    import numpy as np
    from pyspark.sql.types import LongType

    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            # the w filter drops the degenerate '' token of
            # empty/whitespace-only text
            words = [w for w in tokenize.py_words(t) if w]
            if not words:
                out.append(None)
                continue
            cnt = Counter(words)
            toks = np.array(
                [
                    (zlib.crc32(w.encode()) << 32)
                    | zlib.crc32(b"\x01" + w.encode())
                    for w in cnt
                ],
                dtype=np.uint64,
            )
            weights = np.fromiter(
                cnt.values(), dtype=np.int64, count=len(cnt)
            )
            bits = ((toks[:, None] >> shifts[None, :]) & 1).astype(
                np.int64
            ) * 2 - 1
            sums = (bits * weights[:, None]).sum(axis=0)
            sig = 0
            for i in np.nonzero(sums > 0)[0]:
                sig |= 1 << int(i)
            if sig >= 1 << 63:
                sig -= 1 << 64  # two's-complement into Spark's long
            out.append(sig)
        return pd.Series(out, dtype=object)

    return df.select(
        F.col(id_col), _sig(F.col(text_col)).alias("simhash")
    ).filter(F.col("simhash").isNotNull())


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into 4
    16-bit pieces (pigeonhole: hamming ≤ 3 ⇒ some band equal), join on
    equal bands, verify with bit_count(xor).

    ``max_bucket`` stars oversize band buckets around their min id
    (:func:`_bucket_pairs`): mass-duplicated boilerplate shares one
    signature, so every member still verifies against the
    representative at hamming 0. ``None`` keeps exact clique
    semantics. The signature rides the band rows to both pair ends,
    so the verify joins nothing back."""
    # persist: the Arrow signature pass feeds both sides of the band
    # self-join below
    sigs = _persist(simhash(df, id_col, text_col), eager=True)
    banded = sigs.select(
        id_col,
        "simhash",
        F.posexplode_outer(
            F.array(
                *[
                    F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    pairs = _bucket_pairs(
        banded, id_col, ["band_idx", "band_val"], max_bucket,
        carry=("simhash",),
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def edit_distance_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    len_bucket: int = 32,
    prefix_chars: int = 16,
    max_dist: int = 40,
) -> DataFrame:
    """Blocked Levenshtein near-duplicate pairs (``id_a < id_b``).

    Character-level complement of the shingle-based detectors above:
    catches small in-place edits (typo fixes, number swaps, template
    fills) that keep most shingles intact but also catches them when
    the documents are too short for stable MinHash signatures.

    Blocking is PART OF the operator's semantics, as with every
    candidate generator in this module: a pair is reported iff both
    docs share a ``(floor(char_length / len_bucket),
    lowercased-prefix)`` block AND their full lowercased texts are
    within ``max_dist`` edits. Near-dups that straddle a length-bucket
    boundary or differ inside the prefix are by-design misses (the
    MinHash/SimHash detectors cover those).

    Scale posture: the candidate generator is a bucket EQUI-join (no
    cartesian); per-candidate cost is bounded because Spark's
    3-argument ``levenshtein(l, r, threshold)`` runs the banded
    O(len·threshold) algorithm and bails out at ``max_dist`` instead
    of filling the full O(len²) matrix.

    Engine note (same class as the llm.tokenize lower() divergences):
    Spark's levenshtein counts CODEPOINT edits, DuckDB's counts BYTE
    edits — they agree on ASCII text (all fixture corpora) and drift
    on multi-byte characters; the oracle pairing relies on the ASCII
    fixtures, documented here like the final-sigma/dotted-I cases.
    """
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("t"),
    )
    blocked = base.select(
        "id",
        "t",
        F.floor(F.length("t") / len_bucket).alias("len_b"),
        F.substring("t", 1, prefix_chars).alias("pre"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, ["len_b", "pre"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("a.t"), F.col("b.t"), max_dist).cast("long"),
        )
        .filter(F.col("edit_distance") >= 0)  # threshold form: -1 = over
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            "edit_distance",
        )
    )
