"""Source/sink round-trip queries (SURVEY.md §2.1 S4-S11).

Each query writes fixture data through a real sink into a temp dir,
reads it back through the matching source, and aggregates — the oracle
computes the same result straight from the fixture, so a round-trip
that loses rows, mangles types, or breaks partitioning fails the hash.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from solana_etl_pipeline_spark.queries.base import QuerySpec
from solana_etl_pipeline_spark.sources import load_table
from solana_etl_pipeline_spark.sources.sinks import (
    read_csv_dir,
    read_json_dir,
    read_orc_dir,
    read_parquet_merged,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
    write_zordered,
)

_CSV_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S11: overwrite-mode parquet partitioned by event date, read
    back with a partition predicate — the scan must prune to one
    partition directory (asserted via explain in tests)."""
    ev = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="spark_sink_parquet_") + "/t"
    write_parquet(
        ev.withColumn("event_date", F.to_date("ts")),
        out,
        partition_cols=["event_date"],
        mode="overwrite",
    )
    back = read_parquet_merged(spark, out)
    return (
        back.filter(F.col("event_date") == F.lit("2024-01-02").cast("date"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def sink_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered parquet layout on (user_id, value) + a two-column
    range predicate read-back: the Morton clustering bounds both
    dimensions per file (locality asserted in tests/test_pipeline.py;
    here the oracle pins that the layout loses/mangles nothing)."""
    ev = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="spark_sink_zorder_") + "/t"
    write_zordered(
        ev.select("event_id", "user_id", "event_type", "value"),
        out,
        "user_id",
        "value",
        n_files=8,
    )
    back = spark.read.parquet(out)
    return (
        back.filter((F.col("user_id") < 50) & (F.col("value") < 100.0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8/S9: header CSV out, schema-enforced CSV directory scan
    back (pathGlobFilter plays the reference's ``endswith('.csv')``)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    out = tempfile.mkdtemp(prefix="spark_sink_csv_") + "/t"
    write_csv(ev, out)
    back = read_csv_dir(spark, out, _CSV_SCHEMA, path_glob="*.csv")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5: JSON out, schema-enforced JSON scan back."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    out = tempfile.mkdtemp(prefix="spark_sink_json_") + "/t"
    write_json(ev, out)
    back = read_json_dir(spark, out, _CSV_SCHEMA, path_glob="*.json")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar sink + schema-enforced scan back — Spark's second
    native columnar format (Hive-era lakes). DuckDB has no ORC
    reader, so the oracle recomputes the aggregate straight from the
    fixture: a round-trip that loses rows or mangles typed values
    fails the hash exactly like the CSV/JSON twins."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    out = tempfile.mkdtemp(prefix="spark_sink_orc_") + "/t"
    write_orc(ev, out)
    back = read_orc_dir(spark, out, _CSV_SCHEMA, path_glob="*.orc")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


_EVENT_AGG_ORACLE = """
    SELECT event_type, count(*) AS n_events,
           round(sum(round(value, 6)), 4) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
"""

QUERIES: dict[str, QuerySpec] = {
    "sink_parquet_partitioned": QuerySpec(
        spark=sink_parquet_partitioned,
        oracle="""
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            WHERE CAST(ts AS DATE) = DATE '2024-01-02'
            GROUP BY 1
        """,
        doc="Partitioned parquet append + pruned read-back (clean_data.py:305-365)",
        tags=("S10", "S11", "U2"),
    ),
    "sink_zorder_roundtrip": QuerySpec(
        spark=sink_zorder_roundtrip,
        oracle="""
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            WHERE user_id < 50 AND value < 100.0
            GROUP BY 1
        """,
        doc="Z-ordered parquet layout + two-column range read-back",
        tags=("S10", "S11"),
    ),
    "sink_orc_roundtrip": QuerySpec(
        spark=sink_orc_roundtrip,
        oracle=_EVENT_AGG_ORACLE,
        doc="ORC sink + schema-enforced directory scan (native second "
        "columnar format; oracle recomputes from the fixture)",
        tags=("S10", "S11"),
    ),
    "sink_csv_roundtrip": QuerySpec(
        spark=sink_csv_roundtrip,
        oracle=_EVENT_AGG_ORACLE,
        doc="CSV sink + schema-enforced directory scan (cleandata1.py:43-47)",
        tags=("S7", "S8", "S9", "P5"),
    ),
    "sink_json_roundtrip": QuerySpec(
        spark=sink_json_roundtrip,
        oracle="""
            SELECT user_id, count(*) AS n_events,
                   round(sum(round(value, 6)), 4) AS sum_value
            FROM events GROUP BY 1
        """,
        doc="JSON sink + directory scan (my_websocket.py:31-45)",
        tags=("S4", "S5", "S6"),
    ),
}
