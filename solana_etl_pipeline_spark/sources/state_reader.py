"""Batch readers over streaming checkpoint STATE (Spark 4 state data
source).

The reference's operational story for streaming state is a ledger
table you can just query (``my_websocket.py:101-105`` keeps processed
ids in a file the operator can inspect). This engine's state lives in
checkpointed state stores instead — so the parity surface for "let an
operator look at the ledger" is Spark's state data source: batch
DataFrames over a running (or stopped) query's checkpoint, no query
restart, no custom tooling.

The ops layer is two reads (``dedup_state_keys`` flattens the second):

* ``read_state_metadata`` — which stateful operators exist in a
  checkpoint, their operator/store names and batch-id ranges (the
  inputs to any offline inspection);
* ``read_state_store`` — the LIVE state rows themselves (dedup keys
  within the watermark, open windows, join buffers) as ``key`` /
  ``value`` structs + ``partition_id``: count and measure them
  directly, join them against business tables, alert on growth — all
  without touching the streaming query.

The package's streams run on Spark's default HDFS-backed state store
provider. The same reads work on a checkpoint written under another
provider a deployment selects itself
(``spark.sql.streaming.stateStore.providerClass``), as
``tests/test_state_reader.py`` pins for RocksDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_state_metadata(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Operator/store inventory of a checkpoint: one row per state
    store with ``operatorId``, ``operatorName``, ``stateStoreName``,
    ``numPartitions`` and the ``minBatchId``/``maxBatchId`` range
    readable by :func:`read_state_store`."""
    return spark.read.format("state-metadata").load(checkpoint_dir)


def read_state_store(
    spark: SparkSession,
    checkpoint_dir: str,
    *,
    batch_id: int | None = None,
    operator_id: int | None = None,
    store_name: str | None = None,
    join_side: str | None = None,
) -> DataFrame:
    """Live state rows of one state store as a batch DataFrame
    (``key`` struct, ``value`` struct, ``partition_id``).

    Defaults read the LAST committed batch of operator 0's default
    store — the common single-stateful-operator pipeline. ``batch_id``
    time-travels to an earlier committed version (within the
    retention window); ``join_side`` (``"left"``/``"right"``) selects
    a stream-stream join's buffer instead of ``store_name``.
    """
    reader = spark.read.format("statestore")
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    if operator_id is not None:
        reader = reader.option("operatorId", operator_id)
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    if join_side is not None:
        reader = reader.option("joinSide", join_side)
    return reader.load(checkpoint_dir)


def dedup_state_keys(
    spark: SparkSession, checkpoint_dir: str, **kwargs
) -> DataFrame:
    """Convenience for the engine's dedup pipelines: the live key
    structs of :func:`read_state_store`, flattened to key columns —
    the queryable twin of the reference's processed-id ledger."""
    return read_state_store(spark, checkpoint_dir, **kwargs).select(
        F.col("key.*")
    )
