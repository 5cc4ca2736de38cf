"""DSIR-style importance-weighted data selection.

Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw-pool document by how much more
likely its hashed n-gram features are under a TARGET distribution
(the high-quality corpus you want more of) than under the RAW pool's
own distribution, then keep the top-weighted documents. This is the
standard "make 100 TB of crawl look like Wikipedia" selection pass —
the importance-weight twin of the Naive Bayes classifier
(``llm/classify.py``), with a bag-of-hashed-grams feature space
instead of per-label token likelihoods.

No reference counterpart (SURVEY §2.11 LLM-data surface).

Feature space: hashed unigrams + bigrams folded into ``n_buckets``
(the paper's hashed n-gram generative model). Buckets hash through
the repo's cross-engine md5 convention (first 8 hex chars as uint32,
mod B — the same cell hash the count-min sketch uses), so a DuckDB
oracle rebuilds the identical feature distributions and the weights
are full-value checkable.

Dataflow at scale:

1. two bucket-count aggregations (target pool, raw pool) — each ≤
   ``n_buckets`` rows regardless of corpus size, partially
   aggregated map-side;
2. the per-bucket log-ratio table (add-one smoothed on both sides)
   broadcasts into the raw pool's gram stream — the 100 TB side
   never shuffles grams;
3. one ``groupBy(doc)`` sums log-ratios — gram rows are generated
   in-partition from their document row, so partial aggregation
   collapses them to one row per (partition, doc) before the only
   shuffle.

All float math is ``ln`` of exact-BIGINT ratios, rounded to 1e-6,
discrete ``doc_id`` tie-breaks — the repo's ln() discipline
(``llm/ranking.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm import tokenize

DEFAULT_BUCKETS = 4096


def _bucket(gram, n_buckets: int):
    """Cross-engine md5 bucket (see ``operators/sketches._cms_bucket``:
    DuckDB mirror is ``('0x' || substr(md5(g), 1, 8))::BIGINT % B``)."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    )


def gram_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """``(doc, bucket)`` — one row per unigram and bigram occurrence,
    hashed into ``n_buckets``. Map-side only (the token array is
    materialized once per document before the generator references
    it, same explode discipline as ``curate.chunk_documents``)."""
    base = df.select(
        F.col(id_col).alias("doc"),
        tokenize.words(F.col(text_col)).alias("_w"),
    )
    n = F.size("_w")
    # sequence(1, n-1) would flip into a DESCENDING sequence for a
    # one-token document (Spark infers step -1 when start > stop), so
    # the bigram index list is guarded explicitly.
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("_w", i), F.element_at("_w", i + 1)
        ),
    )).otherwise(F.array().cast("array<string>"))
    grams = F.concat(F.col("_w"), bigrams)
    return base.select(
        "doc", F.explode(grams).alias("_g")
    ).select("doc", _bucket(F.col("_g"), n_buckets).alias("bucket"))


def bucket_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """``(bucket, c)`` feature counts — the hashed-gram "model" of a
    corpus; at most ``n_buckets`` rows."""
    return (
        gram_buckets(df, id_col, text_col, n_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    include_raw: bool = False,
) -> DataFrame:
    """Per-raw-document DSIR log-importance weight:
    ``(id, n_grams, log_weight)`` with
    ``log_weight = Σ_grams [ln p_target(b) - ln p_raw(b)]``, add-one
    smoothed over ``n_buckets``, rounded to 1e-6.

    Positive means "more target-like than the raw pool average".
    Select with ``orderBy(desc(log_weight), id).limit(k)`` — the
    TakeOrdered top-k pattern, no global sort materialized.
    """
    from solana_etl_pipeline_spark.llm.dedup import _persist

    # r16 (guide §2.4): the raw pool's gram stream feeds BOTH the
    # raw-side bucket counts and the final per-doc scoring join —
    # previously those were two independent gram-explode passes over
    # the raw corpus (bucket_counts(raw) + gram_buckets(raw)). One
    # persisted gram frame (for the session's cache lifetime) halves
    # the raw-side tokenize/explode work; at 100 TB the same reuse is
    # a written gram table, not a cache.
    grams = _persist(gram_buckets(raw, id_col, text_col, n_buckets))
    tc = bucket_counts(target, id_col, text_col, n_buckets)
    rc = grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    t_tot = tc.agg(F.sum("c").cast("bigint").alias("_nt"))
    r_tot = rc.agg(F.sum("c").cast("bigint").alias("_nr"))
    # ≤ n_buckets rows joined on bucket, plus two 1-row scalar
    # combines — all broadcast-sized index metadata
    ratios = (
        tc.select("bucket", F.col("c").alias("_ct"))
        .join(rc.select("bucket", F.col("c").alias("_cr")), "bucket", "full")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            (
                F.ln(
                    (F.coalesce("_ct", F.lit(0)) + F.lit(1))
                    / (F.col("_nt") + F.lit(n_buckets))
                )
                - F.ln(
                    (F.coalesce("_cr", F.lit(0)) + F.lit(1))
                    / (F.col("_nr") + F.lit(n_buckets))
                )
            ).alias("_lr"),
        )
    )
    # an unseen bucket cannot occur on the raw side (every raw gram
    # was counted into rc), so _lr is never null here; the coalesce
    # guards the invariant anyway
    lr = F.sum(F.coalesce("_lr", F.lit(0.0)))
    aggs = [
        F.count(F.lit(1)).alias("n_grams"),
        F.round(lr, 6).alias("log_weight"),
    ]
    if include_raw:
        # unrounded weight for the rounding-boundary canary
        # (tests/test_hygiene.py); never set in oracle-paired paths —
        # it changes the schema
        aggs.append(lr.alias("_raw"))
    return (
        grams.join(F.broadcast(ratios), "bucket", "left")
        .groupBy(F.col("doc").alias(id_col))
        .agg(*aggs)
    )
