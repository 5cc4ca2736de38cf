"""Term-relevance ranking over the ``documents`` corpus: TF-IDF and BM25.

A training-data pipeline needs lexical relevance scoring for corpus
curation (topic filtering, query-based subset extraction, boosting
rare-vocabulary documents). The reference has no ranking surface
(its text handling stops at ``clean_data.py``'s field extraction), so
this module is part of the SURVEY §2.11 engine surface: both scorers
are pure DataFrame compositions — tokenize with built-in ``split``,
two hash aggregations (term frequency, document frequency), one
equi-join on the term, and a window top-k. No Python UDFs anywhere.

Scale posture (100 TB): the token explode is the dominant cost and is
map-side only; ``tf`` shuffles on ``(doc, term)`` and ``df`` on
``term`` — both are classic partial-aggregate-friendly hash aggs.
The df side is a term dictionary (bounded by vocabulary, not corpus
size), joined back on ``term``; Catalyst/AQE broadcasts it when small.
Scalar corpus stats (N, avgdl) ride a 1-row broadcast crossJoin.
The final per-document top-k is a window over the doc key — bounded
state per key, no global sort.

Determinism: scores are derived from exact integer counts (tf, df,
dl, N) through a fixed expression shape, so Spark and the DuckDB
oracle agree to far below the emitted 1e-4 rounding grain. They are
NOT guaranteed ULP-identical — ``ln`` goes through java.lang.Math.log
vs libm, which may differ in the last bit — so every rank/top-k here
orders by the ROUNDED score (plus a unique tie-break key): a sub-grain
float divergence then cannot flip which rows are emitted or how they
rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm import tokenize

# BM25 constants (Robertson et al.; the standard Okapi defaults).
BM25_K1 = 1.2
BM25_B = 0.75

# r16 optimization note: persisting the token/tf frames here and
# deriving doc_freq from tf (one tokenize pass instead of two) was
# MEASURED SLOWER at sf0.1 in interleaved A/Bs (tfidf min 1.17 →
# 1.38 s, bm25 0.89 → 1.32 s, pmi 1.13 → 1.59 s): the persist
# materialization barrier exceeds the saved explode at this corpus
# size, unlike the heavier reused subtrees where the same pattern
# won (llm/dsir.py gram buckets, llm/export.py corpus_filter gate,
# llm/classify.py shared tokens). At 100 TB the equivalent reuse is
# a WRITTEN token/count table, not a cache — left to the deployment.


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (doc, token) under the repo-wide tokenization
    convention (``llm.tokenize``: collapse whitespace runs → trim →
    literal-space split — mirrored verbatim by every oracle).

    Null/empty-text documents contribute no token rows — they are
    dropped by the non-empty filter. ``explode_outer`` instead of
    ``explode`` is purely the ``InferFiltersFromGenerate`` plan-shape
    dodge from llm/dedup.py (an inner explode re-infers the generator
    filter into both join sides); it does not change row semantics
    here. Consequence for callers: BM25's n_docs/avgdl are computed
    over token-bearing documents only, while tfidf_top_terms takes
    its smoothed-idf N from ``df.count()`` including empty documents.
    """
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode_outer(tokenize.words(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    include_raw: bool = False,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    ``score = tf * (ln((N + 1) / (df + 1)) + 1)`` — the smoothed idf
    (sklearn's ``smooth_idf`` formulation) so a term present in every
    document still gets a positive weight; important here because
    corpus-curation vocabularies are often tiny.

    Returns ``(doc_id, term, rank, tfidf)`` with ``rank`` 1..k.
    Ranking is on the ROUNDED score (ties broken by term ascending)
    so a last-ulp ``ln`` divergence vs the oracle engine cannot
    reorder rows — see the module docstring. ``include_raw`` appends
    the UNROUNDED score as ``_raw`` (the rounding-boundary canary in
    tests/test_ranking.py reads it; never set in oracle-paired paths —
    it changes the schema).
    """
    toks = _tokens(df, id_col, text_col)
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = toks.select("doc", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = df.select(
        F.count(F.lit(1)).alias("n_docs")
    )  # 1-row scalar; broadcast combine below is not a data cartesian
    scored = (
        tf.join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc(F.round("tfidf", 4)), F.asc("term")
    )
    cols = [
        F.col("doc").alias("doc_id"),
        F.col("term"),
        F.col("rank"),
        F.round("tfidf", 4).alias("tfidf"),
    ]
    if include_raw:
        cols.append(F.col("tfidf").alias("_raw"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str,
    text_col: str,
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    include_raw: bool = False,
) -> DataFrame:
    """Top-``k`` documents for a keyword query under Okapi BM25.

    ``idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)`` (the
    non-negative Lucene variant); per-term contribution
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Only documents containing at least one query term appear.
    Returns ``(doc_id, rank, bm25)``; ranked on the ROUNDED score,
    ties broken by doc id (see the module docstring on why the
    rounded grain is the comparison contract).
    """
    toks = _tokens(df, id_col, text_col)
    qt = [t.lower() for t in query_terms]
    # Document length and corpus stats come from ALL tokens...
    dl = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.select(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # ...while tf/df only ever see the |query|-bounded term subset, so
    # everything after this filter is tiny regardless of corpus size.
    qtoks = toks.filter(F.col("term").isin(qt))
    tf = qtoks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = qtoks.select("doc", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    contrib = (
        tf.join(F.broadcast(doc_freq), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(stats))  # 1-row scalar combine
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.col("avgdl")
                )
            ),
        )
    )
    scores = contrib.groupBy("doc").agg(F.sum("part").alias("score"))
    # TakeOrderedAndProject first (distributed top-k), THEN rank the k
    # survivors — a bare global row_number window would funnel every
    # scored document through one partition.
    top = scores.orderBy(
        F.desc(F.round("score", 4)), F.asc("doc")
    ).limit(k)
    w = Window.orderBy(F.desc(F.round("score", 4)), F.asc("doc"))
    cols = [
        F.col("doc").alias("doc_id"),
        F.col("rank"),
        F.round("score", 4).alias("bm25"),
    ]
    if include_raw:
        # unrounded score for the boundary canary (see tfidf docstring)
        cols.append(F.col("score").alias("_raw"))
    return top.withColumn("rank", F.row_number().over(w)).select(*cols)


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    postings_k: int = 5,
    salt_buckets: int = 16,
) -> DataFrame:
    """Capped inverted-index build: per term, document frequency, total
    term frequency, and the top-``postings_k`` posting list (docs by
    ``tf`` descending, doc id ascending) serialized as a comma-joined
    string (the repo's deterministic-array convention).

    The retrieval-side complement of the BM25 scorer above: a lexical
    search service materializes exactly this table. Output size is
    bounded by vocabulary × 1 row, and each row carries at most
    ``postings_k`` doc ids — index size does NOT grow with corpus row
    count, which is what makes the build shippable at 100 TB.

    Skew note — why salted two-phase top-k instead of a row_number
    window over ``term``: term frequency is Zipfian, so a per-term
    window funnels a stop-word's ENTIRE posting set through one task's
    sort. Instead the top-k runs as two hash aggregations: per
    ``(term, doc%salt_buckets)`` partials keep at most ``postings_k``
    candidates each (df/total_tf reduce as plain sums alongside), then
    the ``term``-level merge sorts ≤ salt_buckets·postings_k structs.
    Exact same result (partial top-k then merge preserves a global
    top-k under the total (tf desc, doc asc) order); every stage is
    map-side-combinable; the hottest term costs O(docs/salt_buckets)
    per task. ``salt_buckets`` is the skew knob — size it so
    hot-term-docs/salt_buckets fits one task comfortably.
    """
    toks = _tokens(df, id_col, text_col)
    tf = toks.groupBy("term", "doc").agg(F.count(F.lit(1)).alias("tf"))
    # Ascending struct order == (tf desc, doc asc): negate tf.
    cand = F.struct((-F.col("tf")).alias("ntf"), F.col("doc").alias("doc"))
    partial = tf.groupBy(
        "term", F.pmod("doc", F.lit(salt_buckets)).alias("_salt")
    ).agg(
        F.count(F.lit(1)).alias("pdf"),
        F.sum("tf").alias("ptf"),
        F.slice(F.array_sort(F.collect_list(cand)), 1, postings_k).alias(
            "cands"
        ),
    )
    return partial.groupBy("term").agg(
        F.sum("pdf").alias("doc_freq"),
        F.sum("ptf").alias("total_tf"),
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(F.flatten(F.collect_list("cands"))),
                    1,
                    postings_k,
                ),
                lambda s: s.doc.cast("string"),
            ),
            ",",
        ).alias("top_doc_ids"),
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information — the phrase-mining statistic behind multi-word
    vocabulary entries and collocation-aware tokenizers:
    ``pmi(x,y) = ln(p(x,y) / (p(x)·p(y)))`` with ``p(x,y)`` from
    bigram counts and ``p(x)`` from token counts.

    Scale posture: the corpus is touched twice, both map-side-
    combinable hash aggregations (token counts, adjacent-pair counts
    from a ``zip_with`` over each token array — no self-join); the
    scoring join then runs over the DISTINCT-bigram table filtered to
    ``count >= min_count``, joined to the vocab-sized unigram table,
    with the two corpus totals riding a 1-row broadcast scalar
    combine (the llm/ranking.py convention). The final top-k compiles
    to TakeOrderedAndProject on the ROUNDED score with a full
    ``(w1, w2)`` tie-break.
    """
    ws = df.select(tokenize.words(F.col(text_col)).alias("ws"))
    # explode_outer, not explode: InferFiltersFromGenerate turns inner
    # explode into a Filter(size(ws)>0) pushed below the projection,
    # which tokenizes every row a second time. ``ws`` always holds at
    # least one word, so outer ≡ inner here.
    toks = ws.select(F.explode_outer("ws").alias("w")).filter(
        F.col("w") != ""
    )
    n1 = F.greatest(F.size("ws") - 1, F.lit(0))
    pair_arr = F.zip_with(
        F.slice("ws", 1, n1),
        F.slice("ws", 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        ws.select(F.explode(pair_arr).alias("p"))
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    # r16 note: persisting the count tables and deriving the totals
    # from them (one explode pass each) was MEASURED SLOWER here
    # (interleaved A/B min 1.13 → 1.59 s at sf0.1): the two persist
    # materialization barriers cost more than the second explode. The
    # two-pass shape stands; at 100 TB the equivalent reuse is a
    # written count table, not a cache.
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = toks.agg(F.count(F.lit(1)).alias("t_tokens")).crossJoin(
        big.agg(F.count(F.lit(1)).alias("b_bigrams"))
    )  # two 1-row scalars; broadcast combine, not a data cartesian
    cxy = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    joined = (
        cxy.join(
            uni.select(F.col("w").alias("w1"), F.col("cw").alias("c_x")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cw").alias("c_y")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("c_xy").cast("double") * F.col("t_tokens") * F.col("t_tokens"))
        / (F.col("b_bigrams").cast("double") * F.col("c_x") * F.col("c_y"))
    )
    return (
        joined.select(
            "w1", "w2", "c_xy", F.round(pmi, 6).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )
