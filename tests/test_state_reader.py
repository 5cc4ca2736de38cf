"""Checkpoint-state batch readers (``sources/state_reader.py``).

The reference keeps a processed-id ledger an operator can just query
(``my_websocket.py:101-105``); this engine's exactly-once state lives
in checkpointed state stores, and the state data source is the parity
surface: batch reads over the live ledger, no query restart. Pins:

* metadata inventory lists the dedup operator with its batch range;
* the live state rows equal the EXPECTED ledger (unique keys within
  the watermark) after a multi-batch drain with a redelivery;
* provider transparency: identical key sets from an HDFS-backed and
  a RocksDB checkpoint of the same landing data (a deployment selects
  the provider through ``spark.sql.streaming.stateStore.providerClass``;
  the package's streams keep the default);
* a stream-stream join's buffers read per side.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from solana_etl_pipeline_spark.schemas import EVENTS
from solana_etl_pipeline_spark.sources import (
    dedup_state_keys,
    read_state_metadata,
    read_state_store,
)
from solana_etl_pipeline_spark.streaming.ingest import (
    deduplicated,
    landing_stream,
)

_DEFAULT_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _land(landing: str, name: str, rows: list[dict], age: float) -> None:
    path = os.path.join(landing, name)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (time.time() - age,) * 2)


def _event(eid: int, uid: int, ts: str) -> dict:
    return {"event_id": eid, "user_id": uid, "event_type": "purchase",
            "value": 1.0, "props": "{}", "ts": ts}


def _drain_dedup(spark, landing: str, ckpt: str, watermark: str = "2 hours"):
    stream = landing_stream(spark, landing, EVENTS, max_files_per_trigger=1)
    q = (
        deduplicated(stream, ["user_id", "event_id"], watermark=watermark)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    if q.exception():
        raise q.exception()


def _with_provider(spark, confs: dict):
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return saved


def _restore(spark, saved: dict) -> None:
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_state_reader_ledger_and_metadata(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    # two micro-batches; the second redelivers (7, 1) — live state is
    # the UNIQUE ledger, not the delivery log
    _land(landing, "f1.json",
          [_event(1, 7, "2024-01-01T00:05:00.000Z"),
           _event(2, 7, "2024-01-01T00:10:00.000Z")], age=20)
    _land(landing, "f2.json",
          [_event(1, 7, "2024-01-01T00:05:00.000Z"),
           _event(3, 8, "2024-01-01T00:15:00.000Z")], age=10)
    ckpt = str(tmp_path / "ckpt")
    saved = _with_provider(
        spark,
        {"spark.sql.streaming.stateStore.providerClass": _DEFAULT_PROVIDER},
    )
    try:
        _drain_dedup(spark, landing, ckpt)
    finally:
        _restore(spark, saved)

    md = read_state_metadata(spark, ckpt).collect()
    assert len(md) == 1
    row = md[0]
    assert row.operatorId == 0
    assert "dedupe" in row.operatorName.lower()
    assert row.minBatchId == 0 and row.maxBatchId >= 1

    ledger = {
        (r.user_id, r.event_id)
        for r in dedup_state_keys(spark, ckpt).collect()
    }
    assert ledger == {(7, 1), (7, 2), (8, 3)}

    # raw shape: key/value structs + partition_id, and batch
    # time-travel reads the batch-0 ledger (before (8, 3) arrived)
    raw = read_state_store(spark, ckpt)
    assert {"key", "value", "partition_id"} <= set(raw.columns)
    b0 = {
        (r.user_id, r.event_id)
        for r in read_state_store(spark, ckpt, batch_id=0)
        .select(F.col("key.*")).collect()
    }
    assert b0 == {(7, 1), (7, 2)}


def test_state_reader_provider_transparent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    _land(landing, "f1.json",
          [_event(i, 7, "2024-01-01T00:05:00.000Z") for i in range(4)],
          age=20)
    keysets = {}
    for label, confs in (
        ("default",
         {"spark.sql.streaming.stateStore.providerClass": _DEFAULT_PROVIDER}),
        ("rocksdb",
         {"spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER}),
    ):
        ckpt = str(tmp_path / f"ckpt_{label}")
        saved = _with_provider(spark, confs)
        try:
            _drain_dedup(spark, landing, ckpt)
        finally:
            _restore(spark, saved)
        keysets[label] = {
            (r.user_id, r.event_id)
            for r in dedup_state_keys(spark, ckpt).collect()
        }
    assert keysets["default"] == keysets["rocksdb"] == {
        (7, i) for i in range(4)
    }


def test_state_reader_join_buffers(spark, tmp_path):
    """``join_side`` reads a stream-stream join's buffered state: the
    left buffer holds the signups, the right the purchases — the
    second state layout (after dedup keys) the ops surface must
    handle."""
    from solana_etl_pipeline_spark.streaming.ingest import (
        stream_interval_join,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def _typed(eid, uid, ts, etype):
        e = _event(eid, uid, ts)
        e["event_type"] = etype
        return e

    _land(landing, "f1.json",
          [_typed(1, 10, "2024-01-01T00:00:00.000Z", "signup"),
           _typed(2, 11, "2024-01-01T00:00:00.000Z", "signup")], age=20)
    _land(landing, "f2.json",
          [_typed(3, 10, "2024-01-01T00:30:00.000Z", "purchase")], age=10)

    def _side(etype, renames):
        s = landing_stream(
            spark, landing, EVENTS, max_files_per_trigger=1
        ).filter(F.col("event_type") == etype)
        return s.select(*[F.col(c).alias(a) for c, a in renames.items()])

    joined = stream_interval_join(
        _side("signup",
              {"user_id": "user_id", "event_id": "signup_id", "ts": "ts"}),
        _side("purchase",
              {"user_id": "_r_user_id", "event_id": "purchase_id",
               "ts": "p_ts"}),
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        within="1 hour",
        watermark="2 hours",
    ).select("user_id", "signup_id", "purchase_id")
    ckpt = str(tmp_path / "ckpt")
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    if q.exception():
        raise q.exception()

    md = read_state_metadata(spark, ckpt).collect()
    assert any("join" in r.operatorName.lower() for r in md)

    left = read_state_store(spark, ckpt, join_side="left")
    right = read_state_store(spark, ckpt, join_side="right")
    left_ids = {r["value"]["signup_id"] for r in left.collect()}
    right_ids = {r["value"]["purchase_id"] for r in right.collect()}
    assert left_ids == {1, 2}   # both signups buffered (watermark
    #                             hasn't passed their interval yet)
    assert right_ids == {3}
