"""LLM training-data pipeline operators (SURVEY.md §2.11 north star).

Deduplication (exact, MinHash-LSH, SimHash), similarity search
(brute-force + LSH-bucketed cosine), text analysis (stats, token
counts, language ID, quality score, fingerprints), and multimodal
column plumbing — all designed for 100 TB: banded LSH instead of
all-pairs, map-side-combinable aggregates, Arrow-batched Pandas UDFs
only where bytes must cross into Python.
"""

from solana_etl_pipeline_spark.llm.cluster import (
    canonical_keep,
    connected_components,
    near_dup_dedup,
)
from solana_etl_pipeline_spark.llm.dedup import (
    exact_dedup_groups,
    minhash_near_dup_pairs,
    minhash_signatures,
    simhash,
    simhash_candidate_pairs,
)
from solana_etl_pipeline_spark.llm.multimodal import (
    documents_as_assets,
    featurize_assets,
)
from solana_etl_pipeline_spark.llm.similarity import (
    cosine_topk,
    lsh_bucket_assignments,
    lsh_cosine_topk,
)
from solana_etl_pipeline_spark.llm.textstats import (
    document_fingerprint,
    language_id,
    quality_score,
    text_stats,
    token_counts,
)

__all__ = [
    "cosine_topk",
    "document_fingerprint",
    "documents_as_assets",
    "exact_dedup_groups",
    "featurize_assets",
    "language_id",
    "lsh_bucket_assignments",
    "lsh_cosine_topk",
    "minhash_near_dup_pairs",
    "minhash_signatures",
    "quality_score",
    "simhash",
    "simhash_candidate_pairs",
    "text_stats",
    "token_counts",
]
