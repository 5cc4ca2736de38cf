"""Eval-set decontamination: n-gram overlap between a training corpus
and a held-out evaluation set.

Standard LLM training-data hygiene (SURVEY §2.11 surface; no reference
counterpart): a training document that shares too many word n-grams
with any benchmark/eval document leaks the test set into the weights,
so pipelines flag (or drop) documents whose n-gram overlap with the
eval set exceeds a threshold — the approach popularized by the GPT-3
and PaLM data cards (13-gram / 8-gram overlap filters).

Shape at scale:

- Per-document distinct n-grams come from the shingler the MinHash
  pipeline shares (``llm.dedup.shingle_sets``): one JVM regex per
  document, computed once per row on each side (``explode_outer``,
  see below), so the operator starts no Python worker.
- The eval-side n-gram set is built once and is SMALL by nature —
  eval suites are thousands of documents, not billions — so it
  broadcasts and the overlap probe is a broadcast left join: the
  100 TB training side never shuffles. An eval set too large to
  broadcast is outside this operator's contract.
- Training-side n-grams are joined by ``xxhash64`` of the gram, not
  the gram string: shuffle/broadcast rows carry 8 bytes instead of
  ~40-char strings (same digest-key convention as exact dedup —
  COVERAGE.md "Known conventions" #2; identical result up to 64-bit
  hash collisions).
- Everything downstream is one partial-aggregated ``groupBy(doc)``
  counting hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.dedup import shingle_sets


def eval_ngram_hashes(
    eval_df: DataFrame, text_col: str = "text", n: int = 5
) -> DataFrame:
    """Distinct 64-bit hashes of every n-gram in the eval set — the
    (small) probe side of the decontamination join."""
    # explode_outer: see decontaminate
    return (
        shingle_sets(eval_df, text_col, text_col, n)
        .select(F.explode_outer("_sh").alias("_g"))
        .select(F.xxhash64("_g").alias("_h"))
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-training-document eval overlap: ``(id, n_grams, n_hit,
    contamination, contaminated)``.

    ``n_grams`` counts the document's DISTINCT n-grams (short
    documents contribute one whole-text gram — the
    ``_shingle_list`` convention), ``n_hit`` how many of those appear
    anywhere in the eval set, ``contamination`` their ratio (rounded
    to 1e-6), and ``contaminated`` whether the ratio meets
    ``threshold``. Callers drop or down-weight flagged documents; the
    full audit row is returned so the decision is re-checkable
    downstream. The eval side's n-gram hashes are broadcast (see the
    module docstring), so the training side never shuffles for the
    probe.
    """
    evals = F.broadcast(
        eval_ngram_hashes(eval_df, text_col, n).withColumn("_hit", F.lit(1))
    )
    # ``_sh`` is materialized by the shingle projection, so the
    # size() sibling of the explode() re-reads an array length per
    # output row instead of re-deriving the gram construction (an
    # expression beside a generator is evaluated per output row).
    # explode_outer, not explode: InferFiltersFromGenerate turns inner
    # explode into a Filter(size(_sh)>0) pushed below the shingle
    # projection, which computes the whole set a second time per row.
    # ``_sh`` always holds at least one gram, so outer ≡ inner here.
    exploded = shingle_sets(train, id_col, text_col, n).select(
        "_id",
        F.size("_sh").cast("bigint").alias("n_grams"),
        F.explode_outer("_sh").alias("_g"),
    ).withColumn("_h", F.xxhash64("_g"))
    per_doc = (
        exploded.join(evals, "_h", "left")
        .groupBy("_id", "n_grams")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"))
    )
    contamination = F.round(F.col("n_hit") / F.col("n_grams"), 6)
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_hit",
        contamination.alias("contamination"),
        (contamination >= F.lit(threshold)).alias("contaminated"),
    )
