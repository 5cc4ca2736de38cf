"""Scalar-function library (SURVEY.md §2.8, F1-F17).

Everything here is a thin composition of built-in ``pyspark.sql.functions``
— JVM-side, codegen-friendly, no Python UDFs — so these stay inside
WholeStageCodegen at 100 TB.
"""

from solana_etl_pipeline_spark.functions.banding import risk_band
from solana_etl_pipeline_spark.functions.jsonf import json_str
from solana_etl_pipeline_spark.functions.strings import (
    basename,
    is_timestamp_prefixed,
    label_with_key,
    swap_suffix,
)
from solana_etl_pipeline_spark.functions.timestamps import (
    epoch_to_zoned_string,
    format_ts,
    parse_ts,
    to_zone,
)

__all__ = [
    "basename",
    "epoch_to_zoned_string",
    "format_ts",
    "is_timestamp_prefixed",
    "json_str",
    "label_with_key",
    "parse_ts",
    "risk_band",
    "swap_suffix",
    "to_zone",
]
