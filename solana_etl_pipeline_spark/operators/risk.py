"""Per-key risk scoring — the reference's flagship analytics.

The reference computes per-token risk metrics by looping
``for mint in df["Mint"].unique()`` and re-filtering the whole frame per
mint (``streamlit 1.3.txt:83-113,165-166``) — a hand-rolled GROUP BY
that is O(groups x rows) and driver-memory-bound. Here it is one
declarative aggregation: Catalyst plans a partial (map-side) + final
hash aggregate, so it scales to any number of groups and shuffles each
input row exactly once.

Metric semantics (reference lines cited inline):

- ``unique_holders``   — COUNT(DISTINCT to_account)        (:93)
- ``unique_buyers``    — COUNT(DISTINCT from_account) among
  SWAP-typed rows only                                     (:99)
- ``total_events``     — COUNT(*)                          (:94)
- ``ownership_risk``   — 100/(1+holders), 100 if none      (:97)
- ``liquidity_risk``   — 100/(1+buyers), 100 if none       (:98, intended)
- ``txn_concentration``— total/(1+holders)                 (:100)
- ``jeet_risk_score``  — 0.4*own + 0.4*liq + 0.2*conc      (:102)
- ``safety_score``     — max(0, 100 - jeet)                (:103)

At 100 TB: exact COUNT(DISTINCT) per group is a full shuffle of
(key, account) pairs; the registry query ``risk_scores_topk_approx``
(``queries/reference.py``) shows the ``approx_count_distinct`` (HLL++,
map-side combinable, one pass) form next to the exact counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def risk_scores(
    df: DataFrame,
    key: str,
    holder_col: str,
    buyer_col: str,
    buy_type_col: str,
    buy_type_value: str,
    excluded_keys: list | None = None,
) -> DataFrame:
    """Per-``key`` risk metrics; returns one row per key, the five
    scores rounded to 6 places.

    ``excluded_keys`` mirrors the reference's NOT-IN filter on
    wSOL/USDT/USDC (``streamlit 1.3.txt:17-21,53``).
    """
    if excluded_keys:
        df = df.filter(~F.col(key).isin(excluded_keys))

    agg = df.groupBy(key).agg(
        F.count_distinct(F.col(holder_col)).alias("unique_holders"),
        F.count_distinct(
            F.when(F.col(buy_type_col) == buy_type_value, F.col(buyer_col))
        ).alias("unique_buyers"),
        F.count(F.lit(1)).alias("total_events"),
    )

    ownership = F.when(
        F.col("unique_holders") > 0,
        F.lit(100.0) / (F.lit(1.0) + F.col("unique_holders")),
    ).otherwise(F.lit(100.0))
    liquidity = F.when(
        F.col("unique_buyers") > 0,
        F.lit(100.0) / (F.lit(1.0) + F.col("unique_buyers")),
    ).otherwise(F.lit(100.0))
    concentration = F.col("total_events") / (F.lit(1.0) + F.col("unique_holders"))
    # the jeet score and the safety score use the unrounded scores
    jeet = 0.4 * ownership + 0.4 * liquidity + 0.2 * concentration
    safety = F.greatest(F.lit(0.0), F.lit(100.0) - jeet)

    # one projection: a withColumn per score re-analyzes the whole plan
    return agg.select(
        "*",
        *[
            F.round(score, 6).alias(name)
            for name, score in (
                ("ownership_risk", ownership),
                ("liquidity_risk", liquidity),
                ("txn_concentration", concentration),
                ("jeet_risk_score", jeet),
                ("safety_score", safety),
            )
        ],
    )


def top_k_by_safety(scored: DataFrame, key: str, k: int = 10) -> DataFrame:
    """Top-k safest keys (reference ``streamlit 1.3.txt:167``).

    ``orderBy().limit()`` compiles to TakeOrderedAndProject — a per-
    partition heap + driver merge, never a global sort. Ties broken by
    ``key`` for determinism.
    """
    return scored.orderBy(F.desc("safety_score"), F.asc(key)).limit(k)
