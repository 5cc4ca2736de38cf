"""Sources: fixture-table loaders, raw-document readers, and the
checkpoint-state batch readers (ops surface)."""

from solana_etl_pipeline_spark.sources.state_reader import (
    dedup_state_keys,
    read_state_metadata,
    read_state_store,
)
from solana_etl_pipeline_spark.sources.tables import load_table

__all__ = [
    "dedup_state_keys",
    "load_table",
    "read_state_metadata",
    "read_state_store",
]
