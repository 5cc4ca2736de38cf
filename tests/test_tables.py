"""Fixture tables are read by their declared schemas
(``schemas.FIXTURE_TABLES``): the declarations must equal what Spark
infers from every fixture and from the benchmark's generator, and a
``load_table`` call must start no Spark job."""

from __future__ import annotations

import datetime as dt
import itertools
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from solana_etl_pipeline_spark.schemas import FIXTURE_TABLES
from solana_etl_pipeline_spark.sources import load_table

SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


def _fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_declared_schemas_match_the_fixture_files(spark, sf_dir):
    for name, declared in FIXTURE_TABLES.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _fields(declared) == _fields(inferred), (sf_dir, name)


def test_declared_schemas_match_the_benchmark_generator(spark, tmp_path):
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
    )
    try:
        import gen
    finally:
        sys.path.pop(0)
    gen.write_analytics(7, 1.0, str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == sorted(
        f"{name}.parquet" for name in FIXTURE_TABLES
    )
    for name, declared in FIXTURE_TABLES.items():
        inferred = spark.read.parquet(str(tmp_path / f"{name}.parquet")).schema
        assert _fields(declared) == _fields(inferred), name


_probes = itertools.count()


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted under a job group of its
    own."""
    sc = spark.sparkContext
    group = f"probe:load_table-{next(_probes)}"
    sc.setJobGroup(group, "counted call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", list(FIXTURE_TABLES))
def test_load_table_starts_no_spark_job(spark, sf_dir, name):
    assert _jobs_of(spark, lambda: load_table(spark, sf_dir, name).schema) == 0


def test_an_inferred_read_is_counted_as_a_job(spark, sf_dir):
    """The count above sees the footer job an inferred read starts."""
    path = f"{sf_dir}/events.parquet"
    assert _jobs_of(spark, lambda: spark.read.parquet(path).schema) >= 1


def test_load_table_rejects_an_unknown_name(spark, sf_dir):
    with pytest.raises(ValueError, match="known: region, nation"):
        load_table(spark, sf_dir, "transactions")


def _events(**overrides) -> pa.Table:
    cols = {
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1, 12)], pa.timestamp("us")),
        "user_id": pa.array([7], pa.int64()),
        "event_type": pa.array(["click"]),
        "value": pa.array([1.5]),
        "props": pa.array([None], pa.string()),
    }
    cols.update(overrides)
    return pa.table(cols)


@pytest.mark.parametrize(
    "column, stored",
    [
        ("value", pa.array(["1.5"])),
        ("ts", pa.array([dt.datetime(2024, 1, 1, 12)], pa.timestamp("ns"))),
    ],
)
def test_a_drifted_physical_type_raises_when_the_query_runs(
    spark, tmp_path, column, stored
):
    """A column stored as another type than declared (a string
    ``value``, a ``TIMESTAMP(NANOS)`` ``ts``) plans, then fails the
    scan."""
    pq.write_table(
        _events(**{column: stored}), tmp_path / "events.parquet",
        coerce_timestamps=None,
    )
    df = load_table(spark, str(tmp_path), "events")
    assert _fields(df.schema) == _fields(FIXTURE_TABLES["events"])
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.collect()


def test_a_missing_declared_column_reads_as_null(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}),
        tmp_path / "region.parquet",
    )
    rows = load_table(spark, str(tmp_path), "region").orderBy("r_regionkey")
    assert [tuple(r) for r in rows.collect()] == [(0, None), (1, None)]


def test_a_missing_path_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "nation")
