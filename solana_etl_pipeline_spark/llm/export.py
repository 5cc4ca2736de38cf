"""Training-set assembly: corpus filtering funnel, shard and split
assignment.

The last mile of an LLM data pipeline (SURVEY §2.11 surface; no
reference counterpart): take a curated corpus, keep only
training-worthy documents, and give each a deterministic shard and
split.

- **Corpus filter**: language gate (predicted, not labeled — labels
  lie at scale) + quality floor + exact-dedup survivor selection, all
  composed from the existing operators. One aggregation per stage;
  the dedup semi-join shuffles on the content key only.
- **Shard assignment**: ``scramble = (doc_id mod P) * K mod P`` with
  ``P`` a large prime — a mod-prime multiplicative scramble (a full
  permutation of [0, P) for any K coprime with P), then
  ``shard = scramble mod n_shards`` and intra-shard order by the
  scramble value. Plain BIGINT arithmetic that never exceeds
  ``P^2 < 2^63``, so it is deterministic, engine-portable (the
  DuckDB oracle replays it exactly — unlike xxhash64), and
  stateless: any worker can recompute any document's shard. NOTE: a
  plain ``(id * K) mod n_shards`` without the prime reduction is a
  trap — for power-of-two shard counts any odd K is ≡ some small
  residue, e.g. Knuth's 2654435761 ≡ 1 (mod 8), collapsing the
  "hash" to ``id mod n_shards`` and the order to plain id order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.textstats import language_id, quality_score

# Mod-prime scramble parameters: P is the classic 1e9+7 prime, K is
# Knuth's multiplicative constant reduced into [0, P). (K % P) * (id
# % P) stays under P^2 ~ 1e18 < 2^63, so Spark ANSI mode and DuckDB
# compute identical BIGINT products with no overflow on either side.
SHARD_P = 1_000_000_007
KNUTH = 2654435761


def corpus_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 50.0,
) -> DataFrame:
    """Training-worthiness gate: predicted language, quality floor,
    and exact-dedup survivors (min id per distinct text).

    Returns the surviving rows with a ``quality`` column attached
    (overwriting any pre-existing ``quality`` column — it is part of
    this operator's output contract) — the score rides along so
    downstream stages never re-evaluate the (wide) text-stats
    expression tree. The dedup semi-join keys on
    :func:`~solana_etl_pipeline_spark.llm.dedup.content_hash` rather
    than the text itself: shuffle rows carry a 32-byte digest instead
    of whole documents (same design as ``exact_dedup_groups``;
    identical result up to sha256 collisions).
    """
    from solana_etl_pipeline_spark.llm.dedup import _persist, content_hash

    text = F.col(text_col)
    gated = (
        df.withColumn("quality", quality_score(text))
        .withColumn("_lang", language_id(text))
        .filter((F.col("_lang") == lang) & (F.col("quality") > min_quality))
        .drop("_lang")
        .withColumn("_key", content_hash(text))
    )
    # r16 (guide §5 caching-when-reused): the keepers aggregate AND the
    # semi-join probe both consume ``gated``, so the wide quality/
    # language expression trees evaluated TWICE per run. Persist the
    # gated frame for the session's cache lifetime; at 100 TB the same
    # reuse is a written intermediate table, not a cache.
    gated = _persist(gated)
    keepers = gated.groupBy("_key").agg(F.min(id_col).alias(id_col))
    return gated.join(keepers, ["_key", id_col], "left_semi").drop("_key")


def shard_scramble(id_col: Column) -> Column:
    """The mod-prime multiplicative scramble: a permutation of
    [0, SHARD_P) for ids below SHARD_P, decorrelated from id order."""
    return F.pmod(
        F.pmod(id_col.cast("bigint"), F.lit(SHARD_P)) * F.lit(KNUTH % SHARD_P),
        F.lit(SHARD_P),
    )


def shard_key(id_col: Column, n_shards: int) -> Column:
    """Deterministic, engine-portable shard assignment."""
    return F.pmod(shard_scramble(id_col), F.lit(n_shards))


def assign_shards(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = 8
) -> DataFrame:
    """Add ``shard`` and an intra-shard ``shard_pos`` read order
    (ordered by the scramble value, i.e. decorrelated from id order)."""
    sharded = df.withColumn("shard", shard_key(F.col(id_col), n_shards))
    w = Window.partitionBy("shard").orderBy(shard_scramble(F.col(id_col)))
    return sharded.withColumn("shard_pos", F.row_number().over(w))


_SPLIT_MICRO = 1_000_000


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.01,
    test_frac: float = 0.01,
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split``
    column from the same mod-prime scramble as sharding.

    ``scramble(id)`` is uniform over [0, P), so comparing
    ``scramble * 1e6`` against ``frac_micro * P`` (pure BIGINT — no
    float ever touches the predicate) carves exactly proportional,
    disjoint, exhaustive bands: stable under reprocessing, independent
    of partitioning/ordering, and any worker can recompute any
    document's split from its id alone — the property that keeps eval
    sets fixed while the corpus grows (ids keep their split when new
    data lands; only NEW ids fall into each band).
    """
    if val_frac < 0 or test_frac < 0 or val_frac + test_frac >= 1:
        raise ValueError("need 0 <= val_frac + test_frac < 1")
    val_m = int(round(val_frac * _SPLIT_MICRO))
    test_m = int(round(test_frac * _SPLIT_MICRO))
    scaled = shard_scramble(F.col(id_col)) * F.lit(_SPLIT_MICRO)
    split = (
        F.when(scaled < F.lit(val_m * SHARD_P), F.lit("val"))
        .when(scaled < F.lit((val_m + test_m) * SHARD_P), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)
