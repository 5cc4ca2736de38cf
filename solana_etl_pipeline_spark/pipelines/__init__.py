"""ETL pipelines: raw semi-structured documents → silver → gold.

Re-expresses the reference's 374-line ``clean_data.py`` transform layer
as declarative DataFrame compositions (SURVEY.md §3.3, §7 Step 5).
Silver has one writer, the drain: ``build_silver`` over streaming feeds,
run by ``streaming.ingest.run_available_now_to_parquet``; its dedup
state is silver's one cross-run dedup.
"""

from solana_etl_pipeline_spark.pipelines.bronze_silver import (
    build_silver,
    read_silver,
)
from solana_etl_pipeline_spark.pipelines.gold import (
    build_risk_gold,
    refresh_gold,
)
from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)

__all__ = [
    "build_risk_gold",
    "build_silver",
    "dispatch_and_flatten",
    "normalize_websocket_messages",
    "read_silver",
    "refresh_gold",
]
