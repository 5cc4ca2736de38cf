"""Streaming dedup under the RocksDB state-store provider.

The default HDFS-backed provider keeps all live state in executor
heap; :func:`rocksdb_state_store_confs` (``session.py``) selects OSS
Spark's RocksDB provider (rocksdbjni ships inside the distribution)
so 100 TB-scale state lives in native memory + local SST files
instead. This test proves, on this build:

  * the provider confs are runtime-settable on an existing session
    and take effect at streaming-query start (the seam the engine
    exposes — no builder-time session surgery needed);
  * the cross-batch dedup + idempotent-restart semantics
    (``tests/test_streaming.py::test_cross_batch_dedup_and_idempotent_restart``)
    are IDENTICAL under RocksDB — providers must be semantically
    transparent;
  * RocksDB actually engaged: with changelog checkpointing the state
    directory holds ``<v>.changelog`` files (HDFS-backed writes
    ``<v>.delta`` — their absence pins that the default provider did
    not silently handle the query).

The same provider is exercised across a REAL executor-JVM boundary
(native lib loading in separate processes) by
``tools/local_cluster_smoke.py``.
"""

from __future__ import annotations

import os
import time

from solana_etl_pipeline_spark.schemas import EVENTS
from solana_etl_pipeline_spark.session import rocksdb_state_store_confs
from solana_etl_pipeline_spark.streaming.ingest import (
    deduplicated,
    deduplicated_within_watermark,
    landing_stream,
    run_available_now,
    run_available_now_to_parquet,
    session_window_counts,
    stateful_running_totals,
)


# shared landing-file fixtures — one definition, no drift
from tests.test_streaming import _event, _write_landing_file  # noqa: E402


def _state_files(ckpt: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
        out += [f for f in files if not f.startswith(".")]
    return out


def test_rocksdb_dedup_restart_and_artifacts(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    _write_landing_file(
        str(landing / "f1.json"),
        [
            _event(1, 10, "2024-01-01T00:05:00.000Z"),
            _event(2, 10, "2024-01-01T00:10:00.000Z"),
        ],
        now - 20,
    )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    confs = rocksdb_state_store_confs()
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        stream = landing_stream(
            spark, str(landing), EVENTS, max_files_per_trigger=1
        )
        run_available_now_to_parquet(
            deduplicated(stream, ["user_id", "event_id"], watermark="1 hour"),
            out,
            ckpt,
        )
        got = {(r.user_id, r.event_id) for r in spark.read.parquet(out).collect()}
        assert got == {(10, 1), (10, 2)}

        # second run, same checkpoint: a duplicate from batch 1 must be
        # dropped by RESTORED RocksDB state, the new key must pass
        _write_landing_file(
            str(landing / "f2.json"),
            [
                _event(1, 10, "2024-01-01T00:05:00.000Z"),  # dup of run 1
                _event(3, 11, "2024-01-01T00:15:00.000Z"),
            ],
            now - 10,
        )
        stream2 = landing_stream(
            spark, str(landing), EVENTS, max_files_per_trigger=1
        )
        run_available_now_to_parquet(
            deduplicated(stream2, ["user_id", "event_id"], watermark="1 hour"),
            out,
            ckpt,
        )
        got2 = {
            (r.user_id, r.event_id) for r in spark.read.parquet(out).collect()
        }
        assert got2 == {(10, 1), (10, 2), (11, 3)}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    files = _state_files(ckpt)
    assert any(f.endswith(".changelog") for f in files), files
    assert not any(f.endswith(".delta") for f in files), files


def test_rocksdb_transparent_for_session_windows_and_wm_dedup(spark, tmp_path):
    """Provider transparency across the REMAINING state formats: the
    session-window aggregation and dropDuplicatesWithinWatermark each
    keep state in their own layout (not the dropDuplicates /
    flatMapGroupsWithState formats the other tests cover). Identical
    canonical output under the default and RocksDB providers on the
    same landing data — a provider must never change semantics."""
    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    _write_landing_file(
        str(landing / "f1.json"),
        [
            _event(1, 5, "2024-01-01T01:00:00.000Z"),
            _event(2, 5, "2024-01-01T01:10:00.000Z"),
            _event(3, 6, "2024-01-01T01:05:00.000Z"),
        ],
        now - 20,
    )
    _write_landing_file(
        str(landing / "f2.json"),
        [
            # extends user 5's session; user 6 starts a new one (>gap);
            # event 1 replayed with a retry's later stamp
            _event(4, 5, "2024-01-01T01:25:00.000Z"),
            _event(5, 6, "2024-01-01T02:30:00.000Z"),
            _event(1, 5, "2024-01-01T01:00:30.000Z"),
        ],
        now - 10,
    )

    def run(label: str, rocksdb: bool) -> tuple[list, list]:
        confs = (
            rocksdb_state_store_confs()
            if rocksdb
            else {
                "spark.sql.streaming.stateStore.providerClass":
                    "org.apache.spark.sql.execution.streaming.state."
                    "HDFSBackedStateStoreProvider",
            }
        )
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            s1 = landing_stream(
                spark, str(landing), EVENTS, max_files_per_trigger=1
            )
            t = run_available_now(
                session_window_counts(s1, gap="30 minutes"),
                str(tmp_path / f"ckpt_sw_{label}"),
                "complete",
            )
            sessions = sorted(
                (r.user_id, r.session_start, r.n_events)
                for r in spark.table(t).collect()
            )
            s2 = landing_stream(
                spark, str(landing), EVENTS, max_files_per_trigger=1
            )
            out = str(tmp_path / f"out_wm_{label}")
            run_available_now_to_parquet(
                deduplicated_within_watermark(
                    s2, ["user_id", "event_id"], watermark="10 minutes"
                ),
                out,
                str(tmp_path / f"ckpt_wm_{label}"),
            )
            deduped = sorted(
                (r.user_id, r.event_id)
                for r in spark.read.parquet(out).collect()
            )
            return sessions, deduped
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    default_rows = run("default", rocksdb=False)
    rocksdb_rows = run("rocksdb", rocksdb=True)
    assert default_rows == rocksdb_rows
    # and the semantics themselves: one merged session for user 5
    # (events 1,2,4 plus the replay, all within 30-min gaps — the
    # session query does NOT dedup), two sessions for user 6, and the
    # dedup query drops the replayed event 1 despite its differing
    # retry stamp
    sessions, deduped = default_rows
    assert [(u, n) for u, _s, n in sessions] == [(5, 4), (6, 1), (6, 1)]
    assert deduped == [(5, 1), (5, 2), (5, 4), (6, 3), (6, 5)]


def test_rocksdb_bounded_memory_with_custom_stateful_op(spark, tmp_path):
    """The ``applyInPandasWithState`` operator (a different state
    encoding than dropDuplicates) under RocksDB with the
    bounded-memory cap engaged: state carries across micro-batches
    and the knobs are accepted by this build, not silently rejected
    at query start."""
    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    _write_landing_file(
        str(landing / "f1.json"),
        [
            dict(_event(1, 1, "2024-01-01T10:00:00.000Z"), value=10.0),
            dict(_event(2, 2, "2024-01-01T10:01:00.000Z"), value=5.0),
        ],
        now - 20,
    )
    _write_landing_file(
        str(landing / "f2.json"),
        [dict(_event(3, 1, "2024-01-01T10:02:00.000Z"), value=7.5)],
        now - 10,
    )
    confs = rocksdb_state_store_confs(max_memory_mb=256)
    assert (
        confs["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"]
        == "true"
    )
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        stream = landing_stream(
            spark, str(landing), EVENTS, max_files_per_trigger=1
        )
        t = run_available_now(
            stateful_running_totals(stream), str(tmp_path / "ckpt"), "update"
        )
        final: dict[int, tuple[int, float]] = {}
        for r in spark.table(t).collect():
            cur = final.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                final[r.user_id] = (r.n_events, r.total_value)
        # user 1's second-batch update proves state RESTORED under
        # RocksDB between micro-batches (10.0 carried into +7.5)
        assert final[1] == (2, 17.5)
        assert final[2] == (1, 5.0)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
