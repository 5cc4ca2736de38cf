"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``solana_etl_pipeline_spark``; this module is
just the adapter over its query registry.

The session belongs to the caller, so the engine's shared posture
(``apply_runtime_confs``) leaves its shuffle-partition count alone.
The wrappers set that count themselves, to the session's
``defaultParallelism``: one partition per core, the same rule
``build_session`` uses (32 at ``local[32]``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from solana_etl_pipeline_spark.queries import QUERIES
from solana_etl_pipeline_spark.session import apply_runtime_confs

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _prepare(spark: SparkSession) -> None:
    apply_runtime_confs(spark)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _prepare(spark)
    return QUERIES["risk_scores_topk"].spark(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(spec.spark) for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle
    }
