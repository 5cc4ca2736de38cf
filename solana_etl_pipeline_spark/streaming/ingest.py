"""File-landing ingestion with checkpointed exactly-once semantics.

Reference → Spark mapping (SURVEY.md §2.9):

- T1 continuous ingestion (``my_websocket.py:62-69`` run_forever) →
  ``readStream`` on the landing directory; the writer that lands files
  is outside the engine (SURVEY §7 Step 6's indirection).
- T2 5-second micro-batch + 999-file cap (``cleandata1.py:11-12``) →
  ``trigger(processingTime='5 seconds')`` + ``maxFilesPerTrigger``.
- T4/T5 processed-ID ledger + idempotent skip (``my_websocket.py:71-87,
  101-105`` — the reference's ledger is even broken, SURVEY §0) →
  ``withWatermark + dropDuplicates`` with a checkpoint; re-running a
  checkpointed query reprocesses nothing.
- T6 delete-after-consume (``cleandata1.py:48``) →
  ``option("cleanSource", ...)``.
- T8 subprocess chaining (``my_websocket.py:140``) → stage B simply
  ``readStream``s stage A's sink directory; one DAG, no processes.

Plus the §2.11 surface the reference lacks: tumbling/sliding/session
windows and an ``applyInPandasWithState`` custom stateful operator.

Scale posture: streaming state (dedup keys, open windows) is bounded by
the watermark horizon; keys are hash-partitioned across executors by
the state store, so throughput scales with the cluster, not the driver.
The drain helpers size that partitioning from the plan they start
(:func:`state_partitions`): a dedup-only stream gets one partition.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def landing_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """Unbounded DataFrame over a JSON landing directory (T1/T2/T6).

    ``max_files_per_trigger`` caps the files one micro-batch admits;
    ``None`` (the default) lets an availableNow drain read the whole
    backlog in one micro-batch, which keeps the watermark
    deterministic. Passing 999 reproduces the reference's BATCH_SIZE
    cap (``cleandata1.py:11``). ``clean_source='delete'|'archive'`` is
    the reference's delete-after-consume (kept optional —
    checkpointing alone already guarantees exactly-once, so the
    default leaves sources in place).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if clean_source == "archive" and archive_dir:
            reader = reader.option("sourceArchiveDir", archive_dir)
    return reader.json(landing_dir)


def deduplicated(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """T4: exactly-once by key — the reference's *intended* ledger
    semantics (``my_websocket.py:101-105``). The watermark bounds dedup
    state: keys older than the horizon are evicted, so state is O(keys
    within the watermark), not O(all history).

    The event-time column is APPENDED to the dedup keys: Spark's
    streaming dropDuplicates only evicts state when the watermark
    column is part of the key set — ``dropDuplicates(keys)`` alone
    would keep the watermark for late-row dropping but grow dedup
    state with every key ever seen (the unbounded-ledger failure this
    operator exists to prevent). Redelivered rows carry the same
    event time, so the dedup decision is unchanged; duplicates whose
    event times differ need
    ``withWatermark(ts).dropDuplicatesWithinWatermark(keys)`` (see
    tests/test_streaming.py::test_drop_duplicates_within_watermark).
    """
    key_set = list(keys) if ts_col in keys else [*keys, ts_col]
    return stream.withWatermark(ts_col, watermark).dropDuplicates(key_set)


def deduplicated_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """T4, redelivery-tolerant form: dedup on the BUSINESS keys only,
    state bounded by the watermark horizon.

    :func:`deduplicated` appends the event-time column to the key set
    (the state-eviction requirement of streaming ``dropDuplicates``),
    which silently assumes every redelivery carries the SAME event
    time. That assumption breaks whenever the timestamp is assigned
    downstream of the duplication point — e.g. an ingest-time
    ``current_timestamp()`` stamp is constant within a micro-batch
    but differs across them, so two copies of one message split
    across batches get different keys and BOTH pass (observed as a
    load-dependent exactly-once violation in the pipeline soak test:
    under contention the upstream stage lands a tick's files across
    several commits and the downstream batches split the copies).

    ``dropDuplicatesWithinWatermark`` is built for exactly this: keys
    are only ``keys``, a duplicate is dropped whenever it arrives
    within the watermark horizon of the first copy, and state still
    evicts on the horizon. Use THIS form when event times of
    duplicates can differ; use :func:`deduplicated` when the event
    time is part of the message identity (replayed payloads).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def hourly_window_counts(stream: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Tumbling 1-hour windows — the streaming twin of the batch
    ``events_hourly_rollup`` query (same output schema, same oracle)."""
    return (
        stream.groupBy(F.window(ts_col, "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def sliding_window_counts(
    stream: DataFrame, ts_col: str = "ts", size: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding windows (each event lands in size/slide windows)."""
    return (
        stream.groupBy(F.window(ts_col, size, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
        )
    )


def session_window_counts(
    stream: DataFrame, key: str = "user_id", ts_col: str = "ts", gap: str = "30 minutes"
) -> DataFrame:
    """Session windows: activity bursts per key separated by ``gap``."""
    return (
        stream.groupBy(F.col(key), F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a time-interval bound: right rows
    within ``[left_ts, left_ts + within]`` of a matching left row.

    Both sides carry watermarks and the join condition bounds
    ``right_ts`` relative to ``left_ts`` from BOTH directions — that
    pair is what lets Structured Streaming evict buffered state: each
    side's buffer holds only rows younger than
    ``watermark + within``, so state is bounded regardless of stream
    length. Without the time bound (or the watermarks) an inner
    stream-stream join must buffer both streams forever.

    ``how='left_outer'`` emits the null-padded row for an unmatched
    left only once the watermark proves no future right row can still
    match (``left_ts + within`` falls behind the watermark) — so
    outer results trail the data by up to ``watermark + within`` of
    event time, and a bounded drain only emits them for left rows
    whose eligibility window has closed. Callers that need
    batch-equivalent output from a finite backlog must advance the
    watermark past the last real row (see the registry query's
    sentinel rows).

    The caller renames columns before joining (both sides usually
    originate from the same schema); ``key`` must exist on the left
    and ``_r_<key>`` on the right, mirroring how the query wrapper
    prepares the frames.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[f"_r_{key}"])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value total maintained across micro-batches
    (the general escape hatch when built-in windows can't express the
    state machine)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Cap on the state partitions of a stream this module starts whose
#: plan keeps keyed state other than dedup keys. A stateful stage opens
#: and commits one state store per shuffle partition on every
#: micro-batch, and the checkpoint fixes that count for the query's
#: lifetime, so small-state drains pay for every extra partition in
#: fixed per-batch cost. Aggregating drains keep more than one because
#: merging their state is compute-bound: at sf0.1 on local[4], warm,
#: the registry's session-window drain (95k sessions) took 1.60-1.93 s
#: at 4 partitions and 1.87-2.08 s at 1.
#:
#: A dedup-only stream gets 1 partition. Its state commit is then about
#: 30 ms per micro-batch instead of about 300 ms at 4, and 1 partition
#: stays the cheaper choice, in batch time and core-seconds, up to about
#: 2e5 state rows per partition (1,000-row micro-batches, local[4]). At
#: 4e5 rows its batches take 450-660 ms against 420-445 ms at 4
#: partitions, and at 1.6e6 rows 1.45 s against 0.82 s, though it still
#: uses fewer core-seconds (2.25 against 2.62 per batch).
MAX_STATE_PARTITIONS = 8

# Analyzed-plan nodes of streaming dedup, and the markers of every other
# operator that keeps keyed state (aggregates and session windows,
# stream-stream joins, the *WithState / TransformWithState* families).
_DEDUP_NODES = frozenset({"Deduplicate", "DeduplicateWithinWatermark"})
_KEYED_STATE_NODES = frozenset({"Aggregate", "Join"})


def _state_partition_count(df: DataFrame) -> int:
    names, stack = set(), [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        names.add(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if names & _DEDUP_NODES and not any(
        n in _KEYED_STATE_NODES or "WithState" in n for n in names
    ):
        return 1
    return min(df.sparkSession.sparkContext.defaultParallelism,
               MAX_STATE_PARTITIONS)


@contextlib.contextmanager
def state_partitions(df: DataFrame):
    """Size the state partitions of the query that starts ``df`` inside
    the block, from ``df``'s analyzed plan.

    A plan whose only stateful operators are streaming dedup
    (``Deduplicate`` / ``DeduplicateWithinWatermark``) gets 1 state
    partition; any other plan gets
    ``min(defaultParallelism, MAX_STATE_PARTITIONS)``.

    The shuffle-partition count is read when a streaming query starts
    and written to its checkpoint. It is set session-wide for the
    duration of the block, so a query that another thread starts on the
    same session in that window gets it too; the session's previous
    value is restored on exit, also when ``start()`` raises. A query
    restarted from an existing checkpoint keeps the checkpoint's count
    whatever is set here. A stream whose state outgrows a few
    partitions, or a dedup stream expected to hold more than about
    2e5 keys (see ``MAX_STATE_PARTITIONS``), is started outside these
    helpers, under a count sized to its keyspace.
    """
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(_state_partition_count(df)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _await_drain(query, timeout_sec: int) -> None:
    """awaitTermination(timeout) returns False WITHOUT stopping the
    query when the drain outruns the timeout — callers would then read
    a partially-filled sink while the query keeps running (and a retry
    collides on the live checkpoint). Stop it and fail loudly."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(
            f"availableNow drain exceeded {timeout_sec}s; query stopped "
            f"(partial sink contents discarded by the caller)"
        )


def run_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "complete",
    query_name: str | None = None,
    timeout_sec: int = 300,
):
    """Drain everything currently available through a checkpointed
    memory sink and return the materialized rows' table name.

    ``availableNow`` processes the full backlog in rate-limited batches
    then stops — the batch-like harness for streaming tests and the
    driver contract. The memory sink CANNOT recover from an existing
    checkpoint (Spark raises "query does not support recovering from
    checkpoint"), so a re-run with the same ``checkpoint_dir`` errors
    rather than idempotently skipping — use
    ``run_available_now_to_parquet`` for restart/idempotence semantics
    (T5); this helper is for single-shot in-memory assertions only.
    """
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    with state_partitions(result):
        query = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    _await_drain(query, timeout_sec)
    return name


def run_available_now_to_parquet(
    result: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain to a parquet sink (append mode) with a checkpoint and
    return the terminated query (its ``recentProgress`` stays readable).

    Unlike the memory sink, the file sink is fault-tolerant: restarting
    with the same checkpoint resumes from committed offsets (T5) — the
    harness for idempotence/restart tests and the real bronze→silver
    landing pattern.
    """
    with state_partitions(result):
        query = (
            result.writeStream.format("parquet")
            .outputMode("append")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    _await_drain(query, timeout_sec)
    return query
