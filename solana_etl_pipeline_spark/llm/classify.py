"""Multinomial Naive Bayes text classification (fasttext-style corpus
labeling without the embedding layer).

Training-data pipelines route documents with cheap linear classifiers
— quality gates ("looks like reference text" vs "looks like spam"),
domain routing, language families. The reference has no classifier
surface (its text handling stops at field extraction), so this module
is SURVEY §2.11 engine surface, built the Spark-native way:

* **Training is ONE hash aggregation.** ``nb_fit`` counts token
  occurrences per (label, token) — a single ``groupBy`` with map-side
  combine, no iteration, no driver-side model object. The model IS a
  DataFrame, like the unigram LM (``llm/lm.py``).
* **Scoring is counts + joins.** Per-document per-label log-posterior

      score(d, l) = ln(docs_l / D)                     # prior
                  + Σ_{t∈d} ln(c_{l,t} + 1)            # matched term
                  - n_d · ln(N_l + V)                   # normalizer

  (add-one smoothing over the global vocabulary V). Only MATCHED
  (label, token) pairs contribute to the middle sum — ln(0+1) = 0 for
  unseen tokens — so the scoring join is an inner join of token
  occurrences against the model, grouped by (doc, label); the
  normalizer rides a broadcast of the tiny per-label stats frame.
  Cost at scale: one token explode (map-side), one (doc, label)
  aggregation, one ≤|labels|-row broadcast — the (doc × label) frame
  is the only fan-out and |labels| is tens, not thousands.

Cross-engine determinism: every count is an exact BIGINT; scores go
through ``ln`` (java.lang.Math.log vs libm — see COVERAGE.md
convention 8), so the emitted score is rounded to 1e-6 and the argmax
is taken on the ROUNDED score with the label as tie-break — a
last-ulp divergence cannot flip the prediction. Tokens are joined by
64-bit hash engine-side (32× narrower shuffle keys than raw terms at
100 TB) while the DuckDB oracle joins raw strings — identical up to
xxhash64 collisions (none at any plausible vocabulary size; same
convention as the unigram LM).

Tokenization is the repo-wide convention (:mod:`llm.tokenize`);
degenerate empty tokens are dropped (a null/empty document has zero
tokens and is classified purely by the prior).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm import tokenize

# At most one UNSCOPED model persist survives at a time (the shared
# single-slot discipline — see dedup.single_slot_persist).
_UNSCOPED_LOCK = threading.Lock()
_UNSCOPED_MODEL: list[DataFrame] = []
# Same discipline for a caller-shared token frame (fit+score over the
# same corpus tokenize once — see tokens=... below).
_UNSCOPED_TOKS_LOCK = threading.Lock()
_UNSCOPED_TOKS: list[DataFrame] = []


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, _h): one row per NON-EMPTY token occurrence, hashed."""
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode_outer(tokenize.words(F.col(text_col))).alias("_t"),
        )
        .filter(F.col("_t").isNotNull() & (F.col("_t") != ""))
        .select("doc", F.xxhash64("_t").alias("_h"))
    )


def shared_tokens(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Persisted ``(doc, _h)`` token-occurrence frame for passing as
    ``tokens=`` to BOTH :func:`nb_fit` and :func:`nb_score` when they
    run over the same corpus — one tokenize+explode pass instead of
    two (r16, guide §2.4: the explode is this pipeline's widest
    map stage). Single-slot persisted (bounded unscoped cache)."""
    from solana_etl_pipeline_spark.llm.dedup import single_slot_persist

    return single_slot_persist(
        _tokens(df, id_col, text_col), _UNSCOPED_TOKS, _UNSCOPED_TOKS_LOCK
    )


def nb_fit(
    df: DataFrame,
    label_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Train: ``(label, _h, c)`` token-occurrence counts per label.

    Per-label totals (N_l), the vocabulary size (V), and document
    priors are all derivable from this frame plus a per-label doc
    count — :func:`nb_score` computes them; nothing is collected.
    ``tokens`` forwards a precomputed :func:`shared_tokens` frame.
    """
    return (
        (tokens if tokens is not None else _tokens(df, id_col, text_col))
        .join(
            df.select(
                F.col(id_col).alias("doc"), F.col(label_col).alias("label")
            ),
            "doc",
        )
        .groupBy("label", "_h")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def nb_label_stats(
    df: DataFrame,
    label_col: str = "source",
) -> DataFrame:
    """``(label, docs_l)`` document counts — the prior numerators."""
    return df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("docs_l")
    )


def nb_score(
    target: DataFrame,
    model: DataFrame,
    label_stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Classify every target document: ``(id, predicted, nb_score)``.

    ``model`` is :func:`nb_fit` output; ``label_stats`` is
    :func:`nb_label_stats` over the SAME training frame. The returned
    score is the winning label's rounded log-posterior; ties on the
    rounded score break toward the lexicographically smallest label.

    The model is persisted for the job (three consumers: per-label
    totals, vocabulary size, the scoring join) under the shared
    single-slot discipline — scope the consume in
    ``dedup_cache_scope`` for deterministic release, or rely on the
    bounded unscoped slot (at most one stale model cached).
    """
    from solana_etl_pipeline_spark.llm.dedup import single_slot_persist

    model = single_slot_persist(model, _UNSCOPED_MODEL, _UNSCOPED_LOCK)
    # per-label totals + global vocab, all from the model frame
    per_label = model.groupBy("label").agg(
        F.sum("c").cast("bigint").alias("n_l")
    )
    vocab_size = model.select("_h").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    d_total = label_stats.agg(
        F.sum("docs_l").cast("bigint").alias("d")
    )
    # tiny frames: |labels| rows / 1 row — broadcast everywhere
    stats = (
        label_stats.join(per_label, "label", "left")
        .crossJoin(F.broadcast(vocab_size))
        .crossJoin(F.broadcast(d_total))
        .select(
            "label",
            F.coalesce("n_l", F.lit(0)).alias("n_l"),
            "docs_l",
            "v",
            "d",
        )
    )

    toks = tokens if tokens is not None else _tokens(target, id_col, text_col)
    # matched-term sums: inner join (unmatched tokens contribute ln(1)=0)
    matched = (
        toks.join(model.select("_h", "label", "c"), "_h")
        .groupBy("doc", "label")
        .agg(F.sum(F.log(F.col("c") + F.lit(1.0))).alias("s"))
    )
    doc_len = toks.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # every doc × every label (docs with no tokens score by prior only)
    base = (
        target.select(F.col(id_col).alias("doc"))
        .join(doc_len, "doc", "left")
        .select("doc", F.coalesce("n", F.lit(0)).alias("n"))
        .crossJoin(F.broadcast(stats))
        .join(matched, ["doc", "label"], "left")
    )
    score = (
        F.log(F.col("docs_l") / F.col("d"))
        + F.coalesce("s", F.lit(0.0))
        - F.col("n") * F.log((F.col("n_l") + F.col("v")).cast("double"))
    )
    scored = base.select("doc", "label", F.round(score, 6).alias("_score"))
    # r16: argmax as ONE hash aggregate (map-side partial) instead of a
    # row_number window — the window forces a per-doc sort and cannot
    # partial-aggregate, so every (doc × label) row shuffles; min(
    # struct(-score, label, ...)) is the same (desc score, asc label)
    # order with the winner's payload riding the struct. Scores are
    # finite (ln of positive exact counts), so negation is exact and
    # null-free; (score, label) is unique per doc, so the winner is
    # the row row_number() = 1 selected.
    winner = F.min(
        F.struct(
            (-F.col("_score")).alias("_neg"),
            F.col("label").alias("predicted"),
            F.col("_score").alias("nb_score"),
        )
    ).alias("_w")
    return scored.groupBy("doc").agg(winner).select(
        F.col("doc").alias(id_col),
        F.col("_w.predicted").alias("predicted"),
        F.col("_w.nb_score").alias("nb_score"),
    )
