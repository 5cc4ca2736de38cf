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
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)
from solana_etl_pipeline_spark.schemas import CLEANED_TRANSACTIONS
from solana_etl_pipeline_spark.sources.sinks import write_parquet


def build_silver(
    helius_raw: DataFrame,
    websocket_raw: DataFrame,
    dedup_keys: tuple[str, str] = ("mint", "signature"),
) -> DataFrame:
    """Normalize both raw feeds, merge, and deduplicate."""
    helius = dispatch_and_flatten(helius_raw)
    ws = normalize_websocket_messages(websocket_raw)
    merged = helius.unionByName(ws)
    return merged.dropDuplicates(list(dedup_keys))


def write_silver(
    silver: DataFrame,
    path: str,
    mode: str = "append",
    dedup_against_existing: bool = False,
    dedup_keys: tuple[str, str] = ("mint", "signature"),
) -> None:
    """Materialize the silver table partitioned by event date (null
    dates — websocket rows carry no timestamp — land in the Hive
    default partition and stay queryable).

    ``build_silver`` dedups only WITHIN its batch, so plain appends
    re-introduce ``(mint, signature)`` duplicates when a later run
    replays a message or an export re-fetches a transaction (review
    r15). ``dedup_against_existing=True`` closes the cross-run hole
    with a left-anti join against the keys already in ``path`` (read
    with ``silver``'s session; a missing table is treated as no keys,
    and any other failure to read the existing keys raises rather than
    appending unchecked). It applies to appends only: an overwrite
    would first delete the very keys the new batch was filtered
    against, so any other ``mode`` raises ``ValueError`` before
    anything is read or written.
    The probe reads ONLY the key columns (column-pruned scan) and is
    the batch twin of the streaming path's watermarked dedup state —
    use the streaming path when the feed is continuous; this flag
    when batch appends can overlap. Off by default: pure-append
    callers (non-overlapping exports) shouldn't pay a key scan.
    """
    if dedup_against_existing:
        if mode != "append":
            raise ValueError(
                "dedup_against_existing=True needs mode='append', "
                f"got {mode!r}"
            )
        keys = list(dedup_keys)
        try:
            existing = read_silver(silver.sparkSession, path).select(*keys)
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            # first write: nothing to dedup against
        else:
            silver = silver.join(existing, keys, "left_anti")
    write_parquet(
        silver.withColumn("event_date", F.to_date("ts")),
        path,
        partition_cols=["event_date"],
        mode=mode,
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


def silver_schema_columns() -> list[str]:
    """The canonical column set (contract check for tests)."""
    return [f.name for f in CLEANED_TRANSACTIONS.fields]
