"""Structured Streaming behavior tests (SURVEY.md §5): cross-batch
dedup, checkpoint idempotence, watermark late-data policy, session /
sliding windows, and the applyInPandasWithState operator — semantics
the SQL oracle can't see because they depend on state across batches.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.schemas import EVENTS
from solana_etl_pipeline_spark.streaming.ingest import (
    run_available_now_to_parquet,
    deduplicated,
    hourly_window_counts,
    landing_stream,
    run_available_now,
    session_window_counts,
    sliding_window_counts,
    stateful_running_totals,
)
from tests.conftest import silver_stream
from tests.test_session import _session_partitions, checkpoint_manager


def _write_landing_file(path: str, rows: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _event(eid: int, uid: int, ts: str, value: float = 1.0) -> dict:
    return {
        "event_id": eid,
        "ts": ts,
        "user_id": uid,
        "event_type": "purchase",
        "value": value,
        "props": "{}",
    }


def test_cross_batch_dedup_and_idempotent_restart(spark, tmp_path):
    """T4+T5: a duplicate (user_id, event_id) arriving in a LATER
    micro-batch is dropped by state, and restarting from the same
    checkpoint reprocesses nothing."""
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
    _write_landing_file(
        str(landing / "f2.json"),
        [
            _event(1, 10, "2024-01-01T00:05:00.000Z"),  # dup of batch 1
            _event(3, 11, "2024-01-01T00:15:00.000Z"),
        ],
        now - 10,
    )
    stream = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=1)
    deduped = deduplicated(stream, ["user_id", "event_id"], watermark="1 hour")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    run_available_now_to_parquet(deduped, out, ckpt)
    got = {(r.user_id, r.event_id) for r in spark.read.parquet(out).collect()}
    assert got == {(10, 1), (10, 2), (11, 3)}

    # restart from same checkpoint: offsets say everything is processed,
    # so the sink gains nothing (T5 idempotent skip)
    stream2 = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=1)
    deduped2 = deduplicated(stream2, ["user_id", "event_id"], watermark="1 hour")
    run_available_now_to_parquet(deduped2, out, ckpt)
    assert spark.read.parquet(out).count() == 3


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """§2.11 surface: dropDuplicatesWithinWatermark — dedup keyed only
    on business keys with state bounded by the watermark horizon (the
    form recommended when event times of duplicates differ)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    _write_landing_file(
        str(landing / "f1.json"),
        [_event(1, 5, "2024-01-01T01:00:00.000Z")],
        now - 20,
    )
    _write_landing_file(
        str(landing / "f2.json"),
        [
            # duplicate key, slightly different event time (a retry)
            _event(1, 5, "2024-01-01T01:00:30.000Z"),
            _event(2, 5, "2024-01-01T01:05:00.000Z"),
        ],
        now - 10,
    )
    stream = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=1)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_id"]
    )
    out = str(tmp_path / "out")
    run_available_now_to_parquet(deduped, out, str(tmp_path / "ckpt"))
    ids = [r.event_id for r in spark.read.parquet(out).collect()]
    assert sorted(ids) == [1, 2]


def test_deduplicated_within_watermark_drops_cross_batch_retry(spark, tmp_path):
    """The engine's redelivery-tolerant dedup helper: a duplicate
    business key whose event time DIFFERS (stamped downstream of the
    duplication point, e.g. per-batch current_timestamp) is dropped
    even when the copies land in different micro-batches — the
    exactly-once violation the ts-appending `deduplicated` form
    admits under load (see the pipeline soak's stage B)."""
    from solana_etl_pipeline_spark.streaming.ingest import (
        deduplicated_within_watermark,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    _write_landing_file(
        str(landing / "f1.json"),
        [_event(7, 5, "2024-01-01T01:00:00.000Z")],
        now - 20,
    )
    _write_landing_file(
        str(landing / "f2.json"),
        [
            # same (user_id, event_id), later batch, later stamp
            _event(7, 5, "2024-01-01T01:00:30.000Z"),
            _event(8, 5, "2024-01-01T01:05:00.000Z"),
        ],
        now - 10,
    )
    stream = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=1)
    deduped = deduplicated_within_watermark(
        stream, ["user_id", "event_id"], ts_col="ts", watermark="10 minutes"
    )
    out = str(tmp_path / "out")
    run_available_now_to_parquet(deduped, out, str(tmp_path / "ckpt"))
    ids = [r.event_id for r in spark.read.parquet(out).collect()]
    assert sorted(ids) == [7, 8]
    # the ts-appending form, same input: BOTH copies of key 7 pass —
    # the documented hazard this helper exists to close
    stream2 = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=1)
    leaky = deduplicated(
        stream2, ["user_id", "event_id"], ts_col="ts", watermark="10 minutes"
    )
    out2 = str(tmp_path / "out2")
    run_available_now_to_parquet(leaky, out2, str(tmp_path / "ckpt2"))
    assert sorted(
        r.event_id for r in spark.read.parquet(out2).collect()
    ) == [7, 7, 8]


def _land_messages(landing, name: str, msgs: list[dict], mtime: float) -> None:
    """Land ``msgs`` as one file of ``landing``'s websocket feed."""
    (landing / "ws").mkdir(exist_ok=True)
    path = landing / "ws" / f"{name}.txt"
    path.write_text("".join(json.dumps(m) + "\n" for m in msgs))
    os.utime(path, (mtime, mtime))


def _state_partition_counts(query) -> set[int]:
    return {
        op["numShufflePartitions"]
        for p in query.recentProgress
        for op in p["stateOperators"]
    }


def test_drain_helper_sizes_state_stores(spark, tmp_path):
    """A stream whose only stateful operator is streaming dedup gets 1
    state partition from the package's drain helpers, and the
    session's own count is back afterwards."""
    from tests.test_live_socket import _msg

    landing = tmp_path / "landing"
    landing.mkdir()
    _land_messages(landing, "a", [_msg(i) for i in range(3)], time.time())
    with _session_partitions(spark, "7"):
        query = run_available_now_to_parquet(
            silver_stream(spark, str(landing), ws_per_batch=1),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert _state_partition_counts(query) == {1}


def test_drain_helper_keeps_aggregate_state_partitions(spark, tmp_path):
    """A stream that aggregates after its dedup keeps
    min(defaultParallelism, MAX_STATE_PARTITIONS) state partitions for
    both of its stateful operators."""
    from solana_etl_pipeline_spark.sources.state_reader import (
        read_state_metadata,
    )
    from solana_etl_pipeline_spark.streaming.ingest import (
        MAX_STATE_PARTITIONS,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [_event(i, i % 3, f"2024-01-01T10:{i:02d}:00.000Z") for i in range(6)]
    _write_landing_file(str(landing / "f1.json"), rows, time.time() - 5)
    ckpt = str(tmp_path / "ckpt")
    with _session_partitions(spark, "7"):
        run_available_now(
            hourly_window_counts(
                deduplicated(
                    landing_stream(spark, str(landing), EVENTS),
                    ["user_id", "event_id"],
                )
            ),
            ckpt,
            "complete",
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    meta = read_state_metadata(spark, ckpt).collect()
    assert {r.operatorName for r in meta} >= {"dedupe"}
    assert len({r.operatorId for r in meta}) == 2
    assert {r.numPartitions for r in meta} == {
        min(spark.sparkContext.defaultParallelism, MAX_STATE_PARTITIONS)
    }


def test_state_partition_count_follows_the_plan(spark, tmp_path):
    """Only a plan whose stateful operators are all streaming dedup gets
    1 state partition; aggregates, joins, *WithState operators and
    stateless plans keep the capped core count."""
    from solana_etl_pipeline_spark.streaming.ingest import (
        MAX_STATE_PARTITIONS,
        _state_partition_count,
        deduplicated_within_watermark,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    stream = landing_stream(spark, str(landing), EVENTS)
    dedup = deduplicated(stream, ["user_id", "event_id"])
    other = stream.select("event_id", F.col("value").alias("v2"))
    capped = min(spark.sparkContext.defaultParallelism, MAX_STATE_PARTITIONS)
    plans = {
        "dedup": (dedup, 1),
        "dedup within watermark, union": (
            deduplicated_within_watermark(stream.unionByName(stream),
                                          ["user_id", "event_id"]),
            1,
        ),
        "dedup + aggregate": (hourly_window_counts(dedup), capped),
        "dedup + join": (dedup.join(other, "event_id"), capped),
        "dedup + WithState": (stateful_running_totals(dedup), capped),
        "stateless": (stream.filter("value > 0"), capped),
    }
    got = {name: _state_partition_count(df) for name, (df, _) in plans.items()}
    assert got == {name: n for name, (_, n) in plans.items()}


def test_state_partitions_restored_when_start_fails(spark, tmp_path):
    """The session's partition count comes back when ``start()`` raises:
    a memory-sink drain restarted on an existing checkpoint is refused
    by Spark at start."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_landing_file(
        str(landing / "f1.json"),
        [_event(1, 1, "2024-01-01T10:00:00.000Z")],
        time.time() - 5,
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        return run_available_now(
            deduplicated(
                landing_stream(spark, str(landing), EVENTS),
                ["user_id", "event_id"],
            ),
            ckpt,
            "append",
        )

    with _session_partitions(spark, "7"):
        drain()
        with pytest.raises(Exception, match="recover"):
            drain()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"


def test_checkpoint_written_under_32_partitions_restarts(spark, tmp_path):
    """Checkpoints from versions that pinned 32 shuffle partitions
    restart under the sized default: Spark keeps the checkpoint's 32
    state partitions, and redeliveries across the restart are still
    dropped — no (mint, signature) row lost or duplicated."""
    from tests.test_live_socket import _msg

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "silver"), str(tmp_path / "ckpt")
    now = time.time()
    msgs = [_msg(i) for i in range(9)]
    _land_messages(landing, "a", msgs[0:4], now - 30)
    _land_messages(landing, "b", msgs[2:6], now - 20)

    with _session_partitions(spark, "32"):
        first = (
            silver_stream(spark, str(landing), ws_per_batch=1)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    assert first.awaitTermination(300)
    assert _state_partition_counts(first) == {32}

    # redeliveries of both earlier files, a repeat within one file,
    # and new messages
    _land_messages(landing, "c", msgs[0:2] + msgs[6:8] + [msgs[6]], now - 10)
    _land_messages(landing, "d", msgs[4:6] + msgs[8:9], now)
    restarted = run_available_now_to_parquet(
        silver_stream(spark, str(landing), ws_per_batch=1), out, ckpt
    )
    assert _state_partition_counts(restarted) == {32}

    rows = spark.read.parquet(out).select("mint", "signature").collect()
    assert len(rows) == len(set(rows))
    assert sorted(r.mint for r in rows) == sorted(m["mint"] for m in msgs)


def test_drain_starts_no_readlink_process(spark, tmp_path):
    """A checkpointed drain on the engine's session starts no `readlink`
    process: the FileContext checkpoint manager ran one per rename of
    a checkpoint file on the local filesystem. The JDK's flight
    recorder logs every process the driver JVM starts."""
    jvm = spark._jvm
    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    for i in range(4):
        _write_landing_file(
            str(landing / f"f{i}.json"),
            [_event(i, 1, f"2024-01-01T10:0{i}:00.000Z")],
            now - 40 + 10 * i,
        )
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        query = run_available_now_to_parquet(
            deduplicated(
                landing_stream(spark, str(landing), EVENTS,
                               max_files_per_trigger=2),
                ["user_id", "event_id"],
            ),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        # a process of our own shows the recorder sees process starts
        argv = spark.sparkContext._gateway.new_array(jvm.java.lang.String, 1)
        argv[0] = "true"
        jvm.java.lang.Runtime.getRuntime().exec(argv).waitFor()
    finally:
        recording.stop()
    dump = jvm.java.io.File(str(tmp_path / "drain.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    commands = [
        event.getString("command")
        for event in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]
    assert [p["numInputRows"] for p in query.recentProgress][:2] == [2, 2]
    assert "true" in commands
    assert [c for c in commands if c.startswith("readlink")] == []


def test_checkpoint_log_refuses_a_second_write_of_a_batch(spark, tmp_path):
    """The offset and commit logs write batch N with a no-overwrite
    atomic create, which is what stops a second writer on the same
    checkpoint: on the engine's checkpoint manager the second create's
    close raises and the first write's bytes stay."""
    offsets = tmp_path / "offsets"
    manager = checkpoint_manager(spark, offsets.as_uri())
    path = spark._jvm.org.apache.hadoop.fs.Path((offsets / "0").as_uri())
    manager.mkdirs(path.getParent())  # as the log does when it opens
    first = manager.createAtomic(path, False)
    first.write(b"first")
    first.close()
    second = manager.createAtomic(path, False)
    second.write(b"second")
    with pytest.raises(Exception, match="FileAlreadyExists|FAILED_RENAME_PATH"):
        second.close()
    assert (offsets / "0").read_bytes() == b"first"


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy: after the watermark advances past an event's
    timestamp (minus the delay), a late-arriving duplicate-keyed or
    fresh old row is dropped from the dedup operator's output."""
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run() -> set[int]:
        stream = landing_stream(spark, str(landing), EVENTS)
        deduped = deduplicated(
            stream, ["user_id", "event_id"], watermark="10 minutes"
        )
        run_available_now_to_parquet(deduped, out, ckpt)
        return {r.event_id for r in spark.read.parquet(out).collect()}

    # run 1: recent events commit a watermark of 10:00 - 10min = 09:50
    # into the checkpoint
    _write_landing_file(
        str(landing / "f1.json"),
        [
            _event(1, 1, "2024-01-01T10:00:00.000Z"),
            _event(2, 1, "2024-01-01T09:58:00.000Z"),
        ],
        time.time() - 20,
    )
    assert run() == {1, 2}

    # run 2 (same checkpoint → watermark restored): an event hours below
    # the watermark is dropped as late; a fresh one passes
    _write_landing_file(
        str(landing / "f2.json"),
        [
            _event(3, 1, "2024-01-01T07:00:00.000Z"),  # too late
            _event(4, 1, "2024-01-01T10:05:00.000Z"),  # fresh
        ],
        time.time() - 5,
    )
    ids = run()
    assert 4 in ids and 1 in ids and 2 in ids
    assert 3 not in ids  # dropped as late


def test_streaming_window_matches_batch(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        _event(i, i % 3, f"2024-01-01T{10 + i % 4:02d}:{i % 50:02d}:00.000Z", 2.5)
        for i in range(40)
    ]
    _write_landing_file(str(landing / "f1.json"), rows, time.time() - 5)
    stream = landing_stream(spark, str(landing), EVENTS)
    t = run_available_now(
        hourly_window_counts(stream), str(tmp_path / "ckpt"), "complete"
    )
    got = {r.hour: (r.n_events, r.sum_value) for r in spark.table(t).collect()}
    batch = spark.read.schema(EVENTS).json(str(landing))
    expected = {
        r.hour: (r.n_events, r.sum_value)
        for r in batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    }
    assert got == expected


def test_sliding_and_session_windows(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        _event(1, 1, "2024-01-01T10:05:00.000Z"),
        _event(2, 1, "2024-01-01T10:20:00.000Z"),  # same session (gap 30m)
        _event(3, 1, "2024-01-01T12:00:00.000Z"),  # new session
        _event(4, 2, "2024-01-01T10:45:00.000Z"),
    ]
    _write_landing_file(str(landing / "f1.json"), rows, time.time() - 5)

    stream = landing_stream(spark, str(landing), EVENTS)
    t_slide = run_available_now(
        sliding_window_counts(stream, size="2 hours", slide="1 hour"),
        str(tmp_path / "ckpt1"),
        "complete",
    )
    slide = {r.window_start: r.n_events for r in spark.table(t_slide).collect()}
    # event at 10:05 falls in windows starting 09:00 and 10:00
    assert slide["2024-01-01 09:00:00"] == 3
    assert slide["2024-01-01 10:00:00"] == 3
    assert slide["2024-01-01 12:00:00"] == 1

    stream2 = landing_stream(spark, str(landing), EVENTS)
    t_sess = run_available_now(
        session_window_counts(stream2, gap="30 minutes"),
        str(tmp_path / "ckpt2"),
        "complete",
    )
    sessions = {
        (r.user_id, r.session_start): r.n_events
        for r in spark.table(t_sess).collect()
    }
    assert sessions[(1, "2024-01-01 10:05:00")] == 2
    assert sessions[(1, "2024-01-01 12:00:00")] == 1
    assert sessions[(2, "2024-01-01 10:45:00")] == 1


def test_clean_source_archives_consumed_files(spark, tmp_path):
    """T6/S13: cleanSource moves files from COMPLETED batches out of
    the landing dir (the reference's delete-after-consume, made
    non-destructive); the final batch's file stays until a later batch
    commits. Data delivery is unaffected."""
    landing = tmp_path / "landing"
    landing.mkdir()
    archive = str(tmp_path / "archive")
    now = time.time()
    for i in range(3):
        _write_landing_file(
            str(landing / f"f{i}.json"),
            [_event(i, 1, "2024-01-01T00:00:00.000Z")],
            now - 30 + i * 5,
        )
    stream = landing_stream(
        spark,
        str(landing),
        EVENTS,
        max_files_per_trigger=1,
        clean_source="archive",
        archive_dir=archive,
    )
    out = str(tmp_path / "out")
    run_available_now_to_parquet(stream, out, str(tmp_path / "ckpt"))
    time.sleep(2)  # archival runs as batches commit; give the last move a beat
    assert spark.read.parquet(out).count() == 3  # delivery unaffected
    remaining = set(os.listdir(landing))
    archived = {
        f for _, _, fs in os.walk(archive) for f in fs
    } if os.path.exists(archive) else set()
    # first two batches' files are out of the landing dir and archived
    assert {"f0.json", "f1.json"} & remaining == set()
    assert {"f0.json", "f1.json"} <= archived


def test_chained_streaming_queries(spark, tmp_path):
    """T8: stage B readStreams stage A's sink — one DAG of chained
    queries replaces the reference's subprocess chaining
    (my_websocket.py:140). Landing JSON → bronze parquet (stream) →
    bronze → hourly counts (stream)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        _event(i, i % 2, f"2024-01-01T{10 + i % 2:02d}:{i:02d}:00.000Z", 3.0)
        for i in range(20)
    ]
    _write_landing_file(str(landing / "f1.json"), rows, time.time() - 5)

    # stage A: landing -> bronze parquet
    bronze = str(tmp_path / "bronze")
    stage_a = landing_stream(spark, str(landing), EVENTS)
    run_available_now_to_parquet(stage_a, bronze, str(tmp_path / "ckptA"))

    # stage B: bronze -> windowed counts (readStream on A's sink)
    stage_b = spark.readStream.schema(EVENTS).parquet(bronze)
    t = run_available_now(
        hourly_window_counts(stage_b), str(tmp_path / "ckptB"), "complete"
    )
    got = {r.hour: r.n_events for r in spark.table(t).collect()}
    assert got == {"2024-01-01 10:00:00": 10, "2024-01-01 11:00:00": 10}


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state carries across micro-batches; the
    final update per user equals the batch aggregate."""
    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    _write_landing_file(
        str(landing / "f1.json"),
        [
            _event(1, 1, "2024-01-01T10:00:00.000Z", 10.0),
            _event(2, 2, "2024-01-01T10:01:00.000Z", 5.0),
        ],
        now - 20,
    )
    _write_landing_file(
        str(landing / "f2.json"),
        [_event(3, 1, "2024-01-01T10:02:00.000Z", 7.5)],
        now - 10,
    )
    stream = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=1)
    t = run_available_now(
        stateful_running_totals(stream), str(tmp_path / "ckpt"), "update"
    )
    rows = spark.table(t).collect()
    # update mode emits one row per user per batch; keep the max-count row
    final: dict[int, tuple[int, float]] = {}
    for r in rows:
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.total_value)
    assert final[1] == (2, 17.5)
    assert final[2] == (1, 5.0)


def test_multifile_landing_single_batch_parity(spark, tmp_path):
    """The driver-visible streaming queries land files with natural
    write parallelism (no coalesce(1)). availableNow with no
    maxFilesPerTrigger cap must drain a MULTI-file landing dir in one
    micro-batch, so the watermarked dedup + window result still equals
    the batch twin — even when late rows live in a different file than
    the rows that advance the watermark."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # file 1: the newest hours; file 2: rows >24h older (would be
    # watermark-dropped if file 1 were processed in an earlier batch)
    new_rows = [
        _event(i, i % 3, f"2024-01-05T{10 + i % 4:02d}:{i % 50:02d}:00.000Z")
        for i in range(20)
    ]
    old_rows = [
        _event(100 + i, i % 3, f"2024-01-01T{8 + i % 2:02d}:{i % 50:02d}:00.000Z")
        for i in range(20)
    ]
    dup_rows = [dict(r) for r in new_rows[:5]]  # cross-file duplicates
    _write_landing_file(str(landing / "f1.json"), new_rows, time.time() - 9)
    _write_landing_file(str(landing / "f2.json"), old_rows, time.time() - 6)
    _write_landing_file(str(landing / "f3.json"), dup_rows, time.time() - 3)

    stream = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=None)
    deduped = deduplicated(stream, keys=["user_id", "event_id"], watermark="24 hours")
    t = run_available_now(
        hourly_window_counts(deduped), str(tmp_path / "ckpt"), "complete"
    )
    got = {r.hour: (r.n_events, r.sum_value) for r in spark.table(t).collect()}

    batch = (
        spark.read.schema(EVENTS)
        .json(str(landing))
        .dropDuplicates(["user_id", "event_id"])
    )
    expected = {
        r.hour: (r.n_events, r.sum_value)
        for r in batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    }
    assert got == expected
    # every input row (minus the 5 duplicates) survived: nothing was
    # late-dropped, proving the drain really was one batch
    assert sum(n for n, _ in got.values()) == 40


def test_stream_stream_interval_join_across_batches(spark, tmp_path):
    """§2.9 stream-stream join: a purchase arriving in a LATER
    micro-batch still joins a signup buffered in join state from an
    earlier batch; purchases outside the interval never emit."""
    from solana_etl_pipeline_spark.streaming.ingest import (
        stream_interval_join,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()

    def _typed(eid, uid, ts, etype):
        e = _event(eid, uid, ts)
        e["event_type"] = etype
        return e

    # batch 1: two signups
    _write_landing_file(
        str(landing / "f1.json"),
        [
            _typed(1, 10, "2024-01-01T00:00:00.000Z", "signup"),
            _typed(2, 11, "2024-01-01T00:00:00.000Z", "signup"),
        ],
        now - 20,
    )
    # batch 2: one purchase inside the hour (joins the batch-1 signup),
    # one outside it, one for a user that never signed up
    _write_landing_file(
        str(landing / "f2.json"),
        [
            _typed(3, 10, "2024-01-01T00:30:00.000Z", "purchase"),
            _typed(4, 11, "2024-01-01T02:30:00.000Z", "purchase"),
            _typed(5, 12, "2024-01-01T00:10:00.000Z", "purchase"),
        ],
        now - 10,
    )

    def _side(etype, renames):
        s = landing_stream(
            spark, str(landing), EVENTS, max_files_per_trigger=1
        ).filter(F.col("event_type") == etype)
        return s.select(
            *[F.col(c).alias(a) for c, a in renames.items()]
        )

    signups = _side(
        "signup", {"user_id": "user_id", "event_id": "signup_id", "ts": "ts"}
    )
    purchases = _side(
        "purchase",
        {"user_id": "_r_user_id", "event_id": "purchase_id", "ts": "p_ts"},
    )
    joined = stream_interval_join(
        signups,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        within="1 hour",
        watermark="2 hours",
    ).select("user_id", "signup_id", "purchase_id")
    out = str(tmp_path / "out")
    run_available_now_to_parquet(joined, out, str(tmp_path / "ckpt"))
    got = {
        (r.user_id, r.signup_id, r.purchase_id)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(10, 1, 3)}


def test_stream_static_broadcast_join_enriches_stream(spark, tmp_path):
    """§2.9 stream-static join: a static dimension joins each
    micro-batch (re-read per batch, broadcastable) — the streaming
    form of the batch broadcast-enrich. Result equals the batch twin."""
    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()
    _write_landing_file(
        str(landing / "f1.json"),
        [
            _event(1, 10, "2024-01-01T00:05:00.000Z", value=2.0),
            _event(2, 11, "2024-01-01T00:10:00.000Z", value=3.0),
            _event(3, 12, "2024-01-01T00:15:00.000Z", value=4.0),  # no dim row
        ],
        now - 10,
    )
    dim = spark.createDataFrame(
        [(10, "gold"), (11, "silver")], "user_id long, tier string"
    )
    stream = landing_stream(spark, str(landing), EVENTS, max_files_per_trigger=None)
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "user_id", "event_id", "value", F.coalesce("tier", F.lit("none")).alias("tier")
    )
    out = str(tmp_path / "out")
    run_available_now_to_parquet(enriched, out, str(tmp_path / "ckpt"))
    got = {
        (r.user_id, r.event_id, r.value, r.tier)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (10, 1, 2.0, "gold"),
        (11, 2, 3.0, "silver"),
        (12, 3, 4.0, "none"),
    }


def test_stream_stream_interval_join_state_evicts(spark, tmp_path):
    """Soak the §2.9 interval join across MANY micro-batches with a
    processingTime trigger and assert — via the progress reports'
    stateOperators metrics — that buffered join state is actually
    EVICTED once the watermark passes it, turning the bounded-state
    argument in streaming/ingest.py into a measured fact. Batches far
    past the watermark horizon (T0+6h with a 2h watermark and 1h
    interval) must remove the T0-era buffered rows."""
    from solana_etl_pipeline_spark.streaming.ingest import (
        stream_interval_join,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    now = time.time()

    def _typed(eid, uid, ts, etype):
        e = _event(eid, uid, ts)
        e["event_type"] = etype
        return e

    t0 = "2024-01-01T00:00:00.000Z"
    # one file per micro-batch (maxFilesPerTrigger=1), mtimes ascending
    # so discovery order is deterministic. Every file carries BOTH a
    # signup and a purchase: each side's watermark node only sees rows
    # surviving that side's filter, so advancing the GLOBAL watermark
    # (the min over both) needs fresh event-times on both sides.
    files = [
        # batch 1: the matching pair (purchase 30 min after signup)
        [
            _typed(1, 10, t0, "signup"),
            _typed(2, 10, "2024-01-01T00:30:00.000Z", "purchase"),
        ],
        # batch 2: T0+2h — state builds, nothing evictable yet
        [
            _typed(3, 20, "2024-01-01T02:00:00.000Z", "signup"),
            _typed(4, 21, "2024-01-01T02:00:00.000Z", "purchase"),
        ],
        # batch 3: T0+6h — watermark (maxEventTime - 2h = T0+4h)
        # passes T0 + within + delay, making the T0-era rows evictable
        [
            _typed(5, 30, "2024-01-01T06:00:00.000Z", "signup"),
            _typed(6, 31, "2024-01-01T06:00:00.000Z", "purchase"),
        ],
        # batch 4: T0+7h — the batch DURING which the batch-3
        # watermark is applied and eviction executes
        [
            _typed(7, 40, "2024-01-01T07:00:00.000Z", "signup"),
            _typed(8, 41, "2024-01-01T07:00:00.000Z", "purchase"),
        ],
    ]
    for i, rows in enumerate(files):
        _write_landing_file(
            str(landing / f"f{i}.json"), rows, now - 40 + 10 * i
        )

    def _side(etype, renames):
        s = landing_stream(
            spark, str(landing), EVENTS, max_files_per_trigger=1
        ).filter(F.col("event_type") == etype)
        return s.select(*[F.col(c).alias(a) for c, a in renames.items()])

    signups = _side(
        "signup", {"user_id": "user_id", "event_id": "signup_id", "ts": "ts"}
    )
    purchases = _side(
        "purchase",
        {"user_id": "_r_user_id", "event_id": "purchase_id", "ts": "p_ts"},
    )
    joined = stream_interval_join(
        signups,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        within="1 hour",
        watermark="2 hours",
    ).select("user_id", "signup_id", "purchase_id")

    query = (
        joined.writeStream.format("memory")
        .queryName("soak_interval_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        query.processAllAvailable()
        progresses = [p for p in query.recentProgress if p]
    finally:
        query.stop()

    # correctness: only the in-interval pair emitted
    got = {
        (r.user_id, r.signup_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM soak_interval_join").collect()
    }
    assert got == {(10, 1, 2)}

    # state metrics: rows were buffered, then REMOVED once the
    # watermark passed them — the bounded-state contract, measured
    state_ops = [
        op
        for p in progresses
        for op in (p.get("stateOperators") or [])
        if op.get("operatorName", "").startswith("symmetricHashJoin")
        or "numRowsTotal" in op
    ]
    assert state_ops, f"no stateOperators in progress: {progresses}"
    peak = max(op["numRowsTotal"] for op in state_ops)
    removed = sum(op.get("numRowsRemoved", 0) for op in state_ops)
    final_total = state_ops[-1]["numRowsTotal"]
    assert peak >= 4  # both sides buffered multiple rows at some point
    assert removed > 0, (
        f"watermark never evicted join state (peak={peak}, "
        f"progress={state_ops})"
    )
    assert final_total < peak


def test_stream_interval_join_left_outer_flushes_unmatched(spark, tmp_path):
    """§2.9 LEFT OUTER interval join: the watermark-flush contract.

    Every signup appears exactly once per in-window purchase — or once
    null-padded when no purchase can ever match. The last signup sits
    AT the max real event time, so its null row flushes only if the
    sentinel rows' watermark advance actually reaches both
    EventTimeWatermark operators. Regression guard: a deterministic
    sentinel filter placed inside the streaming plan is pushed below
    the watermark operator to the scans (Catalyst propagates it across
    the equi-join to both sides), the watermark stalls at the last
    real event, and this signup's null row is silently never emitted —
    which is why the registry query filters sentinels on the BATCH
    read-back, never in the stream."""
    from solana_etl_pipeline_spark.streaming.ingest import (
        run_available_now,
        stream_interval_join,
    )

    now = time.time()
    sl = tmp_path / "signups"
    pl = tmp_path / "purchases"
    sl.mkdir()
    pl.mkdir()

    def _typed(eid, uid, ts, etype):
        e = _event(eid, uid, ts)
        e["event_type"] = etype
        return e

    sentinel = {
        "event_id": None,
        "ts": "2024-01-01T07:00:00.000Z",  # max real ts (03:00) + 4h
        "user_id": -1,
        "event_type": "sentinel",
        "value": None,
        "props": None,
    }
    _write_landing_file(
        str(sl / "f1.json"),
        [
            _typed(1, 10, "2024-01-01T00:00:00.000Z", "signup"),
            _typed(2, 11, "2024-01-01T00:00:00.000Z", "signup"),
            # unmatched signup AT the max real event time: only the
            # sentinel can close its eligibility window
            _typed(6, 12, "2024-01-01T03:00:00.000Z", "signup"),
            sentinel,
        ],
        now - 10,
    )
    _write_landing_file(
        str(pl / "f1.json"),
        [
            _typed(3, 10, "2024-01-01T00:30:00.000Z", "purchase"),
            # outside the 1 h window for signup 2
            _typed(4, 11, "2024-01-01T02:30:00.000Z", "purchase"),
            # user never signed up: must NOT surface in left-outer
            _typed(5, 13, "2024-01-01T00:10:00.000Z", "purchase"),
            sentinel,
        ],
        now - 10,
    )

    signups = landing_stream(
        spark, str(sl), EVENTS, max_files_per_trigger=None
    ).select("user_id", F.col("event_id").alias("signup_id"), "ts")
    purchases = landing_stream(
        spark, str(pl), EVENTS, max_files_per_trigger=None
    ).select(
        F.col("user_id").alias("_r_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = stream_interval_join(
        signups,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        within="1 hour",
        watermark="2 hours",
        how="left_outer",
    ).select("user_id", "signup_id", "purchase_id")
    table = run_available_now(
        joined,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {
        (r.user_id, r.signup_id, r.purchase_id)
        for r in spark.table(table).filter(F.col("user_id") >= 0).collect()
    }
    assert got == {(10, 1, 3), (11, 2, None), (12, 6, None)}
