"""Unigram language-model quality scoring (CCNet-style LM filter).

The classic corpus-quality signal (Wenzek et al. 2019, "CCNet"):
score each document by its cross-entropy under a language model
trained on a reference corpus — gibberish, boilerplate, and
wrong-language text score high (surprising), fluent in-domain text
scores low. Production CCNet uses a KenLM 5-gram; the unigram model
here is the distributed-shape baseline: the n-gram upgrade changes
the vocab key from a token to an n-gram id, not the dataflow.

Dataflow at scale (the part that matters at 100 TB):

1. ``fit``: one partial-aggregated ``groupBy(token)`` over the
   reference corpus → ``(token_hash, count)`` vocab + scalar totals.
   Token rows shuffle as 8-byte hashes (digest-key convention).
2. ``score``: explode the target corpus's tokens, hash join against
   the vocab (broadcast when it fits — a word-level vocab almost
   always does; a shuffle hash join otherwise), then one
   ``groupBy(doc)`` to average. Nothing is ever collected to the
   driver; the "model" is a DataFrame.

Add-one smoothing keeps out-of-vocabulary tokens finite:
``p(w) = (c_w + 1) / (N + V)`` — so the scorer can be fit on one
corpus (e.g. the train split) and applied to another. All float math
is ratios of exact BIGINTs followed by ``ln`` — cross-engine safe
under the repo's 1e-6 rounding convention (see the ``ln`` note in
``llm/ranking.py``).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm import tokenize

# At most one UNSCOPED vocab persist survives at a time (see
# unigram_score's docstring).
_UNSCOPED_LOCK = threading.Lock()
_UNSCOPED_VOCAB: list[DataFrame] = []


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, _h) — one row per token occurrence, token as 64-bit
    hash."""
    words = tokenize.words(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc"), F.explode(words).alias("_t")
    ).select("doc", F.xxhash64("_t").alias("_h"))


def unigram_fit(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Train the unigram model: ``(_h, c)`` token counts. N and V are
    derivable (``sum(c)``, ``count(*)``) — kept in the frame so the
    model stays a single self-contained DataFrame."""
    return (
        _tokens(df, id_col, text_col)
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def unigram_score(
    target: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_raw: bool = False,
) -> DataFrame:
    """Per-document cross-entropy under the fitted model:
    ``(id, n_tokens, avg_neg_logprob)`` — nats/token, add-one
    smoothed, rounded to 1e-6.

    The vocab is broadcast into the probe join: word-level vocabs
    fit (even web-scale corpora rarely exceed tens of millions of
    distinct words after lowercasing).

    The vocab is persisted for the duration of the job (scoped to an
    enclosing ``dedup_cache_scope`` when one is active — the same
    cache discipline as the dedup family): both the (N, V) totals and
    the probe join read it, and an uncached vocab would re-run the
    whole fit aggregation per consumer (measured 15.1 s → 4.4 s on a
    50 k-doc corpus).

    Callers that run many scoring jobs in one session should scope
    them; UNSCOPED calls (the registry/driver path) are still
    bounded — each unscoped call releases the previous unscoped
    vocab, so repeated invocations keep at most one stale vocab
    cached instead of accumulating one per run. (Two concurrent
    unscoped calls on different threads may evict each other's vocab
    mid-flight — a recompute-latency blip, not a correctness issue;
    scope them to avoid it.)
    """
    from solana_etl_pipeline_spark.llm.dedup import single_slot_persist

    vocab = single_slot_persist(vocab, _UNSCOPED_VOCAB, _UNSCOPED_LOCK)
    totals = vocab.agg(
        F.sum("c").cast("bigint").alias("_n"),
        F.count(F.lit(1)).cast("bigint").alias("_v"),
    )
    toks = _tokens(target, id_col, text_col)
    neg_logprob = -F.ln(
        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1))
        / (F.col("_n") + F.col("_v"))
    )
    aggs = [
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(neg_logprob), 6).alias("avg_neg_logprob"),
    ]
    if include_raw:
        # unrounded score for the rounding-boundary canary
        # (tests/test_hygiene.py); never set in oracle-paired paths —
        # it changes the schema
        aggs.append(F.avg(neg_logprob).alias("_raw"))
    return (
        toks.join(F.broadcast(vocab), "_h", "left")
        .join(F.broadcast(totals))  # 1-row scalar combine
        .groupBy(F.col("doc").alias(id_col))
        .agg(*aggs)
    )
