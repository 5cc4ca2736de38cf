"""Driver-visible streaming queries (SURVEY.md §2.9).

Five Structured Streaming pipelines the oracle CAN check, each drained
``availableNow`` into a memory sink: the tumbling, sliding and session
window rollups, and the inner and left-outer stream-stream interval
joins. Each drains a landed input of the events fixture to a result
that must equal a batch twin; the tumbling rollup's is
``events_hourly_rollup`` minus the distinct-user metric (distinct
aggregation is unsupported in streaming; ``hourly_window_counts``
carries ``approx_count_distinct`` instead, dropped here).

The state-dependent surface (applyInPandasWithState, checkpoint
idempotence, watermark late-drop, cross-batch dedup) lives in
tests/test_streaming.py: it needs multi-batch orchestration no single
SQL string models.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.queries.base import QuerySpec
from solana_etl_pipeline_spark.schemas import EVENTS
from solana_etl_pipeline_spark.sources import load_table
from solana_etl_pipeline_spark.streaming.ingest import (
    deduplicated,
    hourly_window_counts,
    landing_stream,
    run_available_now,
    session_window_counts,
    sliding_window_counts,
    stream_interval_join,
)


def _stream_workdir(prefix: str) -> str:
    """Checkpoint scratch, reclaimed at interpreter exit (the returned
    result is a memory-sink table, so the dirs are not read after the
    drain). Checkpoints are NEVER memoized: reusing one across drains
    would commit the landing files' offsets on the first run and make
    every later run an empty no-op batch."""
    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


_LANDING_CACHE: dict[tuple[str, str], str] = {}


def _landing_dir(sf_dir: str, key: str, write) -> str:
    """Memoized JSON landing dir per ``(sf_dir, key)``.

    The fixtures are immutable, so re-serializing events to JSON on
    every invocation only adds tmpdir-IO noise to the bench — at
    sf0.1 the landing write dominated the drain itself, which is why
    identical code swung 7.47 s → 4.09 s across driver rounds (r8
    verdict, "streaming bench queries still time tmpdir IO"). Same
    pattern as ``_OFFSET_CACHE`` (queries/llm.py): ``write(path)``
    runs once per process per (fixture dir, landing flavor); the
    cached dir is read-only afterwards. ``key`` names the flavor
    (full feed vs a pre-filtered topic) so distinct shapes never
    serve each other's files; ``sf_dir`` keys the fixture so sf0.01
    correctness runs and sf0.1 bench runs stay separate."""
    k = (sf_dir, key)
    if k not in _LANDING_CACHE:
        work = tempfile.mkdtemp(prefix=f"spark_landing_{key}_")
        atexit.register(shutil.rmtree, work, ignore_errors=True)
        path = f"{work}/landing"
        write(path)
        _LANDING_CACHE[k] = path
    return _LANDING_CACHE[k]


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land → stream → dedup → tumbling window, drained availableNow."""
    ev = load_table(spark, sf_dir, "events")
    work = _stream_workdir("spark_stream_q_")
    # Natural write parallelism (one file per scan partition). With no
    # maxFilesPerTrigger cap, availableNow drains ALL landing files in
    # ONE micro-batch, so the watermark only advances after every row
    # is in — deterministic regardless of file count (multi-file parity
    # is pinned by tests/test_streaming.py). The full-feed landing is
    # shared with the sliding/session variants via _landing_dir.
    landing = _landing_dir(
        sf_dir, "events", lambda p: ev.write.mode("overwrite").json(p)
    )

    stream = landing_stream(spark, landing, EVENTS)
    deduped = deduplicated(
        stream, keys=["user_id", "event_id"], watermark="24 hours"
    )
    # the oracle has no distinct-user column; Catalyst prunes the
    # dropped HLL aggregate, so the stream computes only count and sum
    windowed = hourly_window_counts(deduped).drop("approx_users")
    table = run_available_now(
        windowed,
        checkpoint_dir=f"{work}/checkpoint",
        output_mode="complete",
    )
    return spark.table(table)


def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 sliding variant: 1 h windows every 30 min — each event lands
    in exactly two overlapping windows. Same land → stream → drain
    shape as the tumbling rollup; complete mode, single batch, so the
    result equals the batch twin and the oracle enumerates both window
    starts per event."""
    ev = load_table(spark, sf_dir, "events")
    work = _stream_workdir("spark_stream_sw_")
    # no coalesce: availableNow + complete mode drain all files in one
    # batch (see streaming_hourly_rollup); shared full-feed landing
    landing = _landing_dir(
        sf_dir, "events", lambda p: ev.write.mode("overwrite").json(p)
    )

    stream = landing_stream(spark, landing, EVENTS)
    windowed = sliding_window_counts(stream, size="1 hour", slide="30 minutes")
    table = run_available_now(
        windowed,
        checkpoint_dir=f"{work}/checkpoint",
        output_mode="complete",
    )
    return spark.table(table)


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 session variant: per-user activity bursts separated by a
    30-minute gap, computed by STREAMING ``session_window`` state (the
    §2.9 surface the batch twin ``window_sessionize_batch`` cannot
    witness). Single availableNow batch + complete mode ⇒ the result
    equals the batch gaps-and-islands construction, so the same
    classical-SQL oracle applies (minus the value sum —
    ``session_window_counts`` is the count-only production helper).
    Complete mode is the oracle-comparability choice, not the
    production shape: a continuous deployment adds ``withWatermark``
    + update/append so closed sessions emit and their state evicts
    (exercised in tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events")
    work = _stream_workdir("spark_stream_sess_")
    landing = _landing_dir(
        sf_dir, "events", lambda p: ev.write.mode("overwrite").json(p)
    )

    stream = landing_stream(spark, landing, EVENTS)
    sess = session_window_counts(
        stream, key="user_id", ts_col="ts", gap="30 minutes"
    )
    table = run_available_now(
        sess, checkpoint_dir=f"{work}/checkpoint", output_mode="complete"
    )
    return spark.table(table)


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an interval bound: purchases
    within one hour of the same user's signup. Two independent
    ``readStream`` sources — each over its OWN pre-filtered landing
    dir (the production shape: distinct topics land separately; it
    also means each source parses only its 20% slice instead of both
    scanning the full feed) — watermarked on both sides, time-bounded
    both ways, so join state evicts (see
    :func:`stream_interval_join`). One availableNow batch in append
    mode ⇒ result equals the batch twin, so a plain SQL interval join
    is the oracle. Output avoids raw timestamps (ids +
    ``millis_after``) so the hash compare is timezone-proof."""
    ev = load_table(spark, sf_dir, "events")
    work = _stream_workdir("spark_stream_ij_")
    signup_landing = _landing_dir(
        sf_dir,
        "signups",
        lambda p: ev.filter(F.col("event_type") == "signup")
        .write.mode("overwrite")
        .json(p),
    )
    purchase_landing = _landing_dir(
        sf_dir,
        "purchases",
        lambda p: ev.filter(F.col("event_type") == "purchase")
        .write.mode("overwrite")
        .json(p),
    )

    signups = landing_stream(spark, signup_landing, EVENTS).select(
        "user_id", F.col("event_id").alias("signup_id"), "ts"
    )
    purchases = landing_stream(spark, purchase_landing, EVENTS).select(
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
    ).select(
        "user_id",
        "signup_id",
        "purchase_id",
        # integer milliseconds: the JSON landing serializes
        # timestamps at millisecond precision (Spark's default
        # timestampFormat), and DuckDB's epoch_ms() applies the same
        # floor to the raw micros, so both sides subtract identically
        # truncated values (per-side SECOND truncation via
        # unix_timestamp would disagree with exact subtraction)
        (F.unix_millis("p_ts") - F.unix_millis("ts")).alias("millis_after"),
    )
    table = run_available_now(
        joined,
        checkpoint_dir=f"{work}/checkpoint",
        output_mode="append",
    )
    return spark.table(table)


def streaming_interval_join_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every signup, with its
    within-the-hour purchases — or one null-padded row when none ever
    arrives. The outer side is the genuinely stateful half of the
    story: Structured Streaming may emit the null row only after the
    watermark proves no matching purchase can still arrive, so each
    side carries a SENTINEL row 4 hours past the real data (filtered
    from the output by ``user_id >= 0``) that drives both source
    watermarks beyond every signup's eligibility window.

    Outer rows are emitted one batch AFTER the data that advanced
    the watermark, so the drain relies on the engine's no-data
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``,
    default on): the availableNow drain runs one final empty batch
    under the sentinel-advanced watermark, evicting and emitting
    every unmatched signup's null row. With the 2 h watermark delay
    exceeding the 1 h join window, that final watermark closes EVERY
    signup's eligibility window, so the drained output equals the
    batch twin — a plain SQL left join is the oracle.

    The subtle part is keeping the sentinel alive to the watermark
    operator: see the pushdown note at the join below. The sentinel
    rows themselves reach the sink and are filtered from the
    RETURNED batch frame instead."""
    ev = load_table(spark, sf_dir, "events")
    work = _stream_workdir("spark_stream_ijo_")

    def sentinel(hours: int) -> DataFrame:
        return ev.agg(
            (F.max("ts") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts")
        ).select(
            F.lit(None).cast("bigint").alias("event_id"),
            "ts",
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )

    signup_landing = _landing_dir(
        sf_dir,
        "signups_sentinel",
        lambda p: ev.filter(F.col("event_type") == "signup")
        .unionByName(sentinel(4))
        .write.mode("overwrite")
        .json(p),
    )
    purchase_landing = _landing_dir(
        sf_dir,
        "purchases_sentinel",
        lambda p: ev.filter(F.col("event_type") == "purchase")
        .unionByName(sentinel(4))
        .write.mode("overwrite")
        .json(p),
    )

    signups = landing_stream(spark, signup_landing, EVENTS).select(
        "user_id", F.col("event_id").alias("signup_id"), "ts"
    )
    # no event_type filter here: the landing dir is already
    # purchase-only + the sentinel, and filtering the sentinel out
    # BEFORE the watermark operator would leave the right-side
    # watermark at the last real purchase — the join's global
    # watermark is the min of both sides, so the outer flush would
    # never fire
    purchases = landing_stream(spark, purchase_landing, EVENTS).select(
        F.col("user_id").alias("_r_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    # NO sentinel filter inside the streaming plan: a deterministic
    # `user_id >= 0` here gets PUSHED DOWN through the join and the
    # EventTimeWatermark operator to both file scans (Catalyst infers
    # `_r_user_id >= 0` across the equi-join too), pruning the
    # sentinel rows before they ever reach the watermark stat — the
    # watermark then stalls at the last real event and the outer
    # flush never covers the final `watermark + within` horizon
    # (silently short ~15 rows at sf0.01). Sentinel rows flow through
    # to the sink; the batch read-back below filters them where no
    # pushdown can precede the watermark.
    joined = (
        stream_interval_join(
            signups,
            purchases,
            key="user_id",
            left_ts="ts",
            right_ts="p_ts",
            within="1 hour",
            watermark="2 hours",
            how="left_outer",
        )
        .select(
            "user_id",
            "signup_id",
            "purchase_id",
            (F.unix_millis("p_ts") - F.unix_millis("ts")).alias(
                "millis_after"
            ),
        )
    )
    table = run_available_now(
        joined,
        checkpoint_dir=f"{work}/checkpoint",
        output_mode="append",
    )
    return spark.table(table).filter(F.col("user_id") >= 0)


QUERIES: dict[str, QuerySpec] = {
    "streaming_interval_join": QuerySpec(
        spark=streaming_interval_join,
        oracle="""
            -- The stream joins on JSON-landed timestamps, which carry
            -- MILLISECOND precision; the oracle must evaluate the
            -- interval predicate on the same ms-truncated values or a
            -- pair within 1 ms of the 1-hour bound diverges between
            -- engines (latent on current fixtures; fixture-proof form).
            WITH e AS (
              SELECT user_id, event_id, event_type,
                     date_trunc('milliseconds', ts) AS ts_ms
              FROM events)
            SELECT s.user_id, s.event_id AS signup_id,
                   p.event_id AS purchase_id,
                   epoch_ms(p.ts_ms) - epoch_ms(s.ts_ms) AS millis_after
            FROM e s
            JOIN e p ON p.user_id = s.user_id
             AND p.ts_ms >= s.ts_ms
             AND p.ts_ms <= s.ts_ms + INTERVAL 1 HOUR
            WHERE s.event_type = 'signup'
              AND p.event_type = 'purchase'
        """,
        doc="Stream-stream interval join (watermarked both sides, "
        "state-evictable) vs batch SQL twin",
        tags=("T2", "J", "§2.9"),
    ),
    "streaming_interval_join_outer": QuerySpec(
        spark=streaming_interval_join_outer,
        oracle="""
            -- Same ms-truncation rationale as streaming_interval_join.
            -- The event_type filters live in pre-join CTEs (not WHERE)
            -- so the LEFT join's null-padded signups survive.
            WITH e AS (
              SELECT user_id, event_id, event_type,
                     date_trunc('milliseconds', ts) AS ts_ms
              FROM events),
            s AS (SELECT user_id, event_id, ts_ms
                  FROM e WHERE event_type = 'signup'),
            p AS (SELECT user_id, event_id, ts_ms
                  FROM e WHERE event_type = 'purchase')
            SELECT s.user_id, s.event_id AS signup_id,
                   p.event_id AS purchase_id,
                   epoch_ms(p.ts_ms) - epoch_ms(s.ts_ms) AS millis_after
            FROM s LEFT JOIN p ON p.user_id = s.user_id
             AND p.ts_ms >= s.ts_ms
             AND p.ts_ms <= s.ts_ms + INTERVAL 1 HOUR
        """,
        doc="Stream-stream LEFT OUTER interval join: watermark-proven "
        "null padding drained to batch parity via sentinel rows + the "
        "no-data watermark-flush micro-batch",
        tags=("T2", "J", "§2.9"),
    ),
    "streaming_session_windows": QuerySpec(
        spark=streaming_session_windows,
        oracle="""
            -- Gap comparisons run on ms-truncated timestamps (what the
            -- JSON landing gives the stream), and BOTH windows carry
            -- the event_id tie-break: with the islands sum ordered by
            -- ts alone, duplicate (user_id, ts) rows could consume the
            -- new_session marker in a different order than the marked
            -- CTE assigned it, splitting one session in the oracle.
            WITH e AS (
              SELECT user_id, event_id,
                     date_trunc('milliseconds', ts) AS ts_ms
              FROM events),
            marked AS (
              SELECT user_id, ts_ms, event_id,
                     -- strict >: an event at exactly start+gap still
                     -- belongs to the session (session_window merges
                     -- touching windows — see window_sessionize_batch)
                     CASE WHEN lag(ts_ms) OVER w IS NULL
                          OR ts_ms - lag(ts_ms) OVER w
                             > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_session
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
            islands AS (
              SELECT user_id, ts_ms,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_ms, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM marked)
            SELECT user_id,
                   strftime(CAST(min(ts_ms) AS TIMESTAMP),
                            '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events
            FROM islands GROUP BY user_id, session_id
        """,
        doc="Streaming session_window state vs gaps-and-islands oracle "
        "(single availableNow batch = batch parity)",
        tags=("T2", "W", "§2.9"),
    ),
    "streaming_sliding_windows": QuerySpec(
        spark=streaming_sliding_windows,
        oracle="""
            WITH starts AS (
              SELECT CAST(to_timestamp(
                         CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
                         - s.off
                     ) AS TIMESTAMP) AS wstart
              FROM events
              CROSS JOIN (SELECT unnest([0, 1800]) AS off) s)
            SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
                   count(*) AS n_events
            FROM starts
            GROUP BY 1
        """,
        doc="Streaming sliding windows (1h/30min) drained availableNow; "
        "oracle enumerates the two covering window starts per event",
        tags=("T2", "W"),
    ),
    "streaming_hourly_rollup": QuerySpec(
        spark=streaming_hourly_rollup,
        oracle="""
            -- the engine dedups on (user_id, event_id) before
            -- windowing; mirror it with a full-row DISTINCT, which is
            -- identical under at-least-once REDELIVERY (duplicate
            -- keys carry identical payloads — the semantics event_id
            -- exists for). Key-duplicates with DIFFERING payloads are
            -- outside the contract on both sides: the engine's
            -- dropDuplicates survivor is then nondeterministic.
            WITH d AS (
              SELECT DISTINCT user_id, event_id, ts, value FROM events)
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM d GROUP BY 1
        """,
        doc="End-to-end streaming pipeline: landing readStream → watermark "
        "dedup → tumbling window (T1/T2/T4, batch-parity oracle)",
        tags=("T1", "T2", "T4", "W"),
    ),
}
