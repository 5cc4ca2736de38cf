"""Bronze → silver: the silver write chain (SURVEY.md §3.3, §7 Step 5).

The reference's ``clean_data.py`` main (374 lines): list raw JSON →
per-file dict walking → pandas concat → CSV archive hop → rename dance →
incremental Parquet with manual harmonize. Here the same data flow is
one declarative stream:

    raw Helius JSON (both shapes)  ─┐
                                    ├─ normalize → unionByName
    websocket landing JSON         ─┘
      → dropDuplicatesWithinWatermark(mint, signature)   (the ledger)
      → run_available_now_to_parquet                      (silver)

No intermediate materialization (X12), no renames (S14 — ordering is a
*column*), no delete-commits (S13).

Silver has one writer, the drain: ``build_silver`` over streaming feeds,
run by ``streaming.ingest.run_available_now_to_parquet``. Its
checkpointed dedup state is silver's one cross-run dedup, and the file
sink's ``_spark_metadata`` log records the committed files. Rebuilding
silver is a drain into a fresh checkpoint and directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)
from solana_etl_pipeline_spark.schemas import CLEANED_TRANSACTIONS
from solana_etl_pipeline_spark.streaming.ingest import (
    deduplicated_within_watermark,
)

#: Dedup horizon, wider than the data's time span: the dedup is exact,
#: like the reference's ledger (``my_websocket.py:71-87``), and its
#: state grows with the keys (see ``streaming.ingest.MAX_STATE_PARTITIONS``).
WATERMARK = "3650 days"
#: Event time of websocket rows, which carry no timestamp. A fixed
#: value keeps every redelivery of a message in one dedup key; an
#: ingest-time stamp would split copies that land in different
#: micro-batches (tests/test_pipeline.py::test_full_pipeline_soak).
WS_EVENT_TIME = "2024-03-01 00:00:00"


def build_silver(helius_raw: DataFrame, websocket_raw: DataFrame) -> DataFrame:
    """The silver chain over two streaming feeds of landing text (one
    document per row, in column ``raw``): normalize both, merge, and
    drop every repeat of a ``(mint, signature)`` within ``WATERMARK``.

    The feeds are the caller's, so the landing layout and
    ``maxFilesPerTrigger`` stay with it. Batch frames are refused: an
    action over them raises ``AnalysisException`` for
    ``dropDuplicatesWithinWatermark``. The operator order is the one
    the committed restart fixtures' checkpoints hold (Helius is
    ``sources/0``), so changing it breaks their restart.
    """
    merged = dispatch_and_flatten(helius_raw).unionByName(
        normalize_websocket_messages(websocket_raw)
    ).withColumn(
        "event_time",
        F.coalesce("ts", F.lit(WS_EVENT_TIME).cast("timestamp")),
    )
    return deduplicated_within_watermark(
        merged, ["mint", "signature"], ts_col="event_time",
        watermark=WATERMARK,
    ).drop("event_time")


def read_silver(spark: SparkSession, path: str) -> DataFrame:
    """Read the silver table by its declared schema
    (``schemas.CLEANED_TRANSACTIONS``). No footer is opened to plan the
    read, so it starts no Spark job; a file written without one of the
    declared columns reads it as null. A drained silver is read through
    its sink log, so only committed files are seen. A missing path
    raises ``PATH_NOT_FOUND``; an empty directory reads as no rows."""
    return spark.read.schema(CLEANED_TRANSACTIONS).parquet(path)
