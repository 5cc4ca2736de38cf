"""Silver → gold: the analytics tables the reference's dashboard reads
(``streamlit 1.3.txt:83-113,165-167``), over the TRUE cleaned-
transactions columns.

``queries/reference.py`` exercises the same operators against the
``events`` fixture for the oracle harness; this module is the
production wiring: silver (15-col) in → per-mint risk scores + token
names out, written in one pass as a gold table a dashboard polls
(replacing the reference's 300 s cache TTL with plain re-read of a
small table); AQE sizes its files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.operators.enrich import broadcast_enrich
from solana_etl_pipeline_spark.operators.risk import risk_scores, top_k_by_safety
from solana_etl_pipeline_spark.sources.sinks import write_parquet

#: The reference's excluded quote mints (wSOL/USDT/USDC,
#: ``streamlit 1.3.txt:17-21``).
EXCLUDED_MINTS = [
    "So11111111111111111111111111111111111111112",
    "Es9vMFrzaCERmJfrF4H2FYD4KCoNkY11McCe8BenwNYB",
    "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v",
]


def build_risk_gold(
    silver: DataFrame,
    token_names: DataFrame | None = None,
) -> DataFrame:
    """Per-mint risk table from the silver transactions table.

    Column mapping to the reference's metrics: holders = distinct
    ``to_account``; buyers = distinct ``from_account`` among SWAP-typed
    rows; plus the first-seen token name per mint (A6). ``token_names``
    is an optional (mint, token_name) dim — the DexScreener enrichment
    — applied as a broadcast join with 'Unknown' default (J1/D1).
    """
    scored = risk_scores(
        silver,
        key="mint",
        holder_col="to_account",
        buyer_col="from_account",
        buy_type_col="type",
        buy_type_value="SWAP",
        excluded_keys=EXCLUDED_MINTS,
    )
    if token_names is not None:
        # the dim wins outright — don't build (and shuffle) the
        # full-silver names aggregation just to drop its one column
        # (review r15)
        return broadcast_enrich(
            scored, token_names, key="mint", value_col="token_name"
        )
    # first-seen name per mint, with a REAL name preferred over the
    # bare-shape "" pad: order by (is-empty, ts, signature) and take
    # the minimum — plain min_by(token_name, signature) could pick ""
    # from a lexicographically-small signature over an actual name
    # (review r15). Null ts (websocket rows) sorts after dated rows.
    name_order = F.struct(
        (F.coalesce(F.col("token_name"), F.lit("")) == "")
        .cast("int")
        .alias("is_empty"),
        F.coalesce(
            F.col("ts"), F.lit("9999-12-31 00:00:00").cast("timestamp")
        ).alias("ts"),
        F.col("signature").alias("sig"),
    )
    names = silver.groupBy("mint").agg(
        F.min_by("token_name", name_order).alias("token_name")
    )
    return scored.join(names, "mint", "left")


def top_tokens(gold: DataFrame, k: int = 10) -> DataFrame:
    """The dashboard's top-k safest tokens (``streamlit 1.3.txt:167``)."""
    return top_k_by_safety(gold, key="mint", k=k)


def write_gold(gold: DataFrame, path: str) -> None:
    """Gold is one row per mint — small at sf0.1, but the mint
    dimension is exactly what grows with the corpus, so a fixed
    ``coalesce(1)`` would funnel the whole refresh through one task at
    100× scale. The ``rebalance`` hint hands the file count to AQE
    (on in every engine session, ``session.RUNTIME_CONFS``), which
    sizes the write partitions from the shuffled bytes: one file for a
    small table, more as it grows. One write, with nothing persisted
    or counted first; the dashboard reads the directory either way.
    The table is replaced on every refresh."""
    write_parquet(gold.hint("rebalance"), path, mode="overwrite")


def refresh_gold(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    token_names: DataFrame | None = None,
) -> DataFrame:
    """One dashboard refresh cycle: read silver, score, write gold.

    Returns a read of the just-written gold table, NOT the build
    plan: nothing is persisted, so returning the build would make
    every caller use (``.collect()``, a dashboard render) re-run the
    full silver scan + risk aggregation — the small freshly-written
    table serves the same rows from disk."""
    from solana_etl_pipeline_spark.pipelines.bronze_silver import read_silver

    gold = build_risk_gold(read_silver(spark, silver_path), token_names)
    write_gold(gold, gold_path)
    return spark.read.parquet(gold_path)
