"""Fixture-table loaders (TESTDATA.md parquet).

Each table is read by the schema ``schemas.FIXTURE_TABLES`` declares for
it, not by inference: an inferred read starts a one-task Spark job to
read the file's footer on every call, which costs more than many of the
registry queries' own tasks. Scans stay columnar, filters and
projections push down, and partition pruning works — nothing to
hand-roll (SURVEY.md §4 X1/X2/X7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from solana_etl_pipeline_spark.schemas import FIXTURE_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet`` by its
    declared schema; building the DataFrame starts no Spark job.

    A file that drifts from the declaration reads as follows:

    - a declared column stored as another physical type (``value`` as
      string, ``ts`` as ``TIMESTAMP(NANOS)``) raises when the query
      runs, not here;
    - a declared column missing from the file reads as null;
    - a missing path raises ``PATH_NOT_FOUND``.

    An unknown ``name`` raises ``ValueError``.
    """
    schema = FIXTURE_TABLES.get(name)
    if schema is None:
        raise ValueError(
            f"unknown fixture table {name!r}; known: {', '.join(FIXTURE_TABLES)}"
        )
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
