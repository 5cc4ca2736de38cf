"""Fixture-table loaders (TESTDATA.md parquet).

One wrinkle: ``events.parquet`` stores ``ts`` as parquet
``TIMESTAMP(NANOS)``, which Spark's vectorized reader rejects outright
(`PARQUET_TYPE_ILLEGAL`). We read it with
``spark.sql.legacy.parquet.nanosAsLong=true`` (the public escape hatch)
and convert nanos -> microsecond TimestampType with integer division,
which matches DuckDB's own nanos->micros truncation — important because
the driver diffs our results against DuckDB reading the same file.

Everything else is a plain ``spark.read.parquet``: scans stay columnar,
filters/projections push down, and partition pruning works — nothing to
hand-roll (SURVEY.md §4 X1/X2/X7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    Applies the nanos->timestamp repair for ``events.ts`` so downstream
    code always sees a proper ``TimestampType`` column.
    """
    if name == "events":
        # Scope the legacy conf to this plan-time read: save & restore so
        # a later read of a *different* nanos table in the same session
        # still fails loudly instead of silently yielding LongType.
        try:
            previous = spark.conf.get(_NANOS_CONF, None)
        except Exception:
            previous = None
        try:
            spark.conf.set(_NANOS_CONF, "true")
        except Exception:
            pass  # conf may be fixed on exotic builds; read will tell us
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if isinstance(df.schema["ts"].dataType, LongType):
                # truncate, don't round: DuckDB truncates ns->us the same
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            # force schema resolution while the conf is still set
            df.schema
        finally:
            try:
                if previous is None:
                    spark.conf.unset(_NANOS_CONF)
                else:
                    spark.conf.set(_NANOS_CONF, previous)
            except Exception:
                pass
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
