"""Bronze → silver batch pipeline (SURVEY.md §3.3, §7 Step 5).

The reference's ``clean_data.py`` main (374 lines): list raw JSON →
per-file dict walking → pandas concat → CSV archive hop → rename dance →
incremental Parquet with manual harmonize. Here the same data flow is
one declarative job:

    raw Helius JSON (both shapes)  ─┐
                                    ├─ normalize → unionByName
    websocket landing JSON         ─┘
      → dropDuplicates(mint, signature)      (the intended ledger)
      → parquet partitioned by event date    (the one true table)

No intermediate materialization (X12), no renames (S14 — ordering is a
*column*), no delete-commits (S13). At 100 TB the date partitioning
gives per-day pruning and the dedup is a hash shuffle on (mint,
signature) — the only wide stage in the job.

This batch job replaces the table. Only the streaming drain
(``streaming.ingest``: landing → normalize → watermarked dedup →
``run_available_now_to_parquet``) appends to silver; its checkpointed
dedup state is silver's one cross-run dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)
from solana_etl_pipeline_spark.schemas import CLEANED_TRANSACTIONS
from solana_etl_pipeline_spark.sources.sinks import write_parquet


def build_silver(helius_raw: DataFrame, websocket_raw: DataFrame) -> DataFrame:
    """Normalize both raw feeds, merge, and deduplicate on
    ``(mint, signature)``."""
    helius = dispatch_and_flatten(helius_raw)
    ws = normalize_websocket_messages(websocket_raw)
    merged = helius.unionByName(ws)
    return merged.dropDuplicates(["mint", "signature"])


def write_silver(silver: DataFrame, path: str) -> None:
    """Overwrite the silver table with a batch-built ``silver``,
    partitioned by event date (null dates — websocket rows carry no
    timestamp — land in the Hive default partition and stay
    queryable).

    The table is replaced, never appended to: ``build_silver`` dedups
    only within its batch, so an append could re-add a
    ``(mint, signature)`` already on disk. Silver grows incrementally
    only through the streaming drain, whose dedup state is the one
    cross-run dedup (exactly-once by checkpoint replay and the file
    sink's ``_spark_metadata`` log).
    """
    write_parquet(
        silver.withColumn("event_date", F.to_date("ts")),
        path,
        partition_cols=["event_date"],
        mode="overwrite",
    )


def read_silver(spark: SparkSession, path: str) -> DataFrame:
    """Read the silver table by its declared schema
    (``schemas.CLEANED_TRANSACTIONS``) plus the discovered
    ``event_date`` partition column, with partition pruning on
    ``event_date`` predicates. No footer is opened to plan the read,
    so it starts no Spark job; a file written without one of the
    declared columns reads it as null. A missing path raises
    ``PATH_NOT_FOUND``; an empty directory reads as no rows."""
    return spark.read.schema(CLEANED_TRANSACTIONS).parquet(path)
