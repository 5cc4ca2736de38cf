"""Table maintenance: restating closed day partitions.

A corrected or late-arriving day is re-materialized in place of the
old one, never appended next to it (the reference's delete-then-
reupload loop, ``cleandata1.py:62-77``). Small-file compaction is
``sources.sinks.compact_parquet_dir``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def overwrite_day_partitions(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    day_col: str = "day",
) -> None:
    """Idempotent re-materialization of the day partitions present in
    ``updates`` — dynamic partition overwrite replaces exactly those
    directories and leaves every other partition untouched.

    This is the backfill/late-restatement primitive at 100 TB: a
    corrected day reruns as one job over that day's input, never a
    full-table rewrite, and reruns converge to the same bytes (the
    reference's delete-then-reupload loop, ``cleandata1.py:62-77``,
    without its lost-update window).

    The mode is set as a PER-WRITER option, not a session conf flip: a
    try/finally around ``spark.conf.set`` races with any concurrent
    write on the shared session — the other writer could plan its
    overwrite after the finally restored STATIC mode and truncate
    every partition it didn't touch. The writer option is scoped to
    this write alone.
    """
    (
        updates.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(day_col)
        .parquet(path)
    )
