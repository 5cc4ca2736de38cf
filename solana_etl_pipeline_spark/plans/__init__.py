"""Physical-plan audit surface (see ``plans.audit``)."""

from solana_etl_pipeline_spark.plans.audit import (
    capture_pre_checkpoint_plans,
    executed_plan,
    record_pre_checkpoint,
)

__all__ = [
    "capture_pre_checkpoint_plans",
    "executed_plan",
    "record_pre_checkpoint",
]
