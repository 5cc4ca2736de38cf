"""Shared pytest fixtures: one local SparkSession per test session, and
the helpers that build silver through the package's chain."""

from __future__ import annotations

import os

import pytest

from solana_etl_pipeline_spark.pipelines.bronze_silver import build_silver
from solana_etl_pipeline_spark.session import build_session
from solana_etl_pipeline_spark.streaming.ingest import (
    run_available_now_to_parquet,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = build_session(
        app_name="solana-etl-pipeline-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={"spark.sql.warehouse.dir": warehouse},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


def _text_feed(spark, path: str, max_files: int | None = None):
    """A stream of the landing files under ``path`` (made if missing),
    one document per row in column ``raw``, as ``build_silver`` reads
    them; ``max_files`` caps the files per micro-batch."""
    os.makedirs(path, exist_ok=True)
    reader = spark.readStream
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.text(path).withColumnRenamed("value", "raw")


def silver_stream(spark, landing: str, helius_per_batch: int | None = None,
                  ws_per_batch: int | None = None):
    """``build_silver`` over the feeds ``landing/helius`` and
    ``landing/ws``."""
    return build_silver(
        _text_feed(spark, os.path.join(landing, "helius"), helius_per_batch),
        _text_feed(spark, os.path.join(landing, "ws"), ws_per_batch),
    )


def dropped_duplicates(query) -> int:
    """Rows the query's dedup dropped, over its recent progress."""
    return sum(
        op.customMetrics["numDroppedDuplicateRows"]
        for p in query.recentProgress for op in p.stateOperators
    )


def drain_silver(spark, root, helius=(), ws=()) -> str:
    """Land the ``helius`` documents and ``ws`` messages under
    ``root/landing``, one file each and beside any landed before, then
    drain every new file through ``build_silver`` into ``root/silver``
    (checkpoint ``root/checkpoint``). Returns the silver path; a call
    on the same ``root`` again appends only keys silver lacks."""
    root = str(root)
    landing = os.path.join(root, "landing")
    for feed, docs in (("helius", helius), ("ws", ws)):
        path = os.path.join(landing, feed)
        os.makedirs(path, exist_ok=True)
        for i, doc in enumerate(docs, len(os.listdir(path))):
            with open(os.path.join(path, f"{i:06d}.json"), "w") as fh:
                fh.write(doc + "\n")
    silver = os.path.join(root, "silver")
    run_available_now_to_parquet(
        silver_stream(spark, landing), silver,
        os.path.join(root, "checkpoint"))
    return silver
