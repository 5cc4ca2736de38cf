"""Structured Streaming surface (SURVEY.md §2.9 T1-T10 + §2.11).

The reference's entire operational layer — polling loops, processed-ID
ledgers, delete-after-consume, subprocess chaining — collapses into
checkpointed streaming queries; see ``ingest`` for the mapping.
"""

from solana_etl_pipeline_spark.streaming.ingest import (
    deduplicated,
    deduplicated_within_watermark,
    hourly_window_counts,
    landing_stream,
    run_available_now,
    run_available_now_to_parquet,
    session_window_counts,
    sliding_window_counts,
    stateful_running_totals,
    stream_interval_join,
)

__all__ = [
    "deduplicated",
    "deduplicated_within_watermark",
    "hourly_window_counts",
    "landing_stream",
    "run_available_now",
    "run_available_now_to_parquet",
    "session_window_counts",
    "sliding_window_counts",
    "stateful_running_totals",
    "stream_interval_join",
]
