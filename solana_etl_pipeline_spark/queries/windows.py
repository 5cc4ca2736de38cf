"""Window-function surface (SURVEY.md §2.5 — a reference gap).

The reference has no window functions; SURVEY §2.5 names the natural
reference-shaped use (top-k tokens per time bucket) which
``window_topk_per_hour`` implements. The rest completes the §2.11
surface: ranking, analytic offsets (lag/lead), and running frames.

Scale posture: every window here partitions by a real key (hour bucket,
user, segment) — state per partition is bounded and the shuffle is the
same hash shuffle an aggregation would need. No unpartitioned
``Window.orderBy`` (a single-task global sort) appears anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.queries.base import QuerySpec
from solana_etl_pipeline_spark.sources import load_table


def window_topk_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5's named example: top-3 events by value per hour via
    ``row_number() over (partition by hour ordered by value desc)``."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    w = Window.partitionBy("hour").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("hour", hour)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("hour", "rn", "event_id", "user_id", "value")
    )


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic offset: per-user value delta vs previous event (lag)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.col("value") - F.lag("value", 1).over(w), 6
        ).alias("value_delta"),
        F.lead("event_id", 1).over(w).alias("next_event_id"),
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame spec: per-user running sum (unbounded preceding → current
    row) and a trailing 3-row moving average."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trailing = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(running), 4).alias("running_value"),
        F.round(F.avg("value").over(trailing), 6).alias("trailing_avg3"),
    )


def window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family: rank / dense_rank / ntile of customers by account
    balance within their market segment."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
    )


def window_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ``session_window``: per-user activity bursts separated by
    ≥ 30 minutes (the oracle models it as gaps-and-islands — proof the
    built-in matches the classical SQL construction)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


ZSCORE_FRAME_S = 3600  # trailing 1 hour
ZSCORE_MIN_N = 5


def trailing_zscore(ev: DataFrame) -> DataFrame:
    """Per-series anomaly score: each event's value standardized
    against the TRAILING 1-hour window of its own event type
    (``[second-3600, second]`` inclusive over whole epoch seconds).
    Null when the window holds < 5 values or has zero spread.

    Hypertable form — the frame runs over a PER-SECOND ROLLUP, not the
    raw events: every event in the same whole second shares the same
    trailing frame (second granularity is the tie rule), so (cnt, sum,
    sum of squares) pre-aggregate per ``(event_type, second)``, the
    RANGE frame slides over ≤ 3600 rollup entries per position, and
    mean/std derive from the framed sums before joining back to the
    events by ``(event_type, second)``. The naive per-row window
    (``stddev_samp OVER (RANGE 3600 PRECEDING)`` directly on events)
    recomputes each frame from scratch, so its cost is
    rows × rows-per-hour-per-series — measured 5.5 s at 500 k events
    vs ≥ 15 min at 5 M on the same 30-day span (density, not volume,
    is its driver). A bounded range frame over the rollup still
    recomputes per position (178 s at 5 M); the shipped
    difference-of-prefix-sums form is O(rollup rows) — 7.5 s at 5 M
    (``git show 6eb1dfe:tools/scale_rehearsal.py``), 2.1 s for the sf0.1
    registry query.

    Second-level epoch keys (``unix_seconds``; the session is pinned
    UTC so the NTZ→instant cast is identity) are mirrored exactly by
    the oracle's ``floor(epoch(ts))``. Variance from (Σx², Σx, n) vs
    the oracle's two-pass stddev differs only in float summation order
    — far below the 1e-6 rounding grain at these magnitudes (values
    ≤ ~512, frames ≤ ~10⁴ rows).
    """
    ev = ev.filter(F.col("value").isNotNull())
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    rollup = ev.groupBy(
        "event_type", sec.alias("sec")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    # Difference of prefix sums, NOT a bounded range frame: Spark
    # recomputes a [x PRECEDING, CURRENT] frame from scratch at every
    # position (O(frame width) each — measured 178 s at 5 M events),
    # while UNBOUNDED PRECEDING frames advance incrementally. The
    # trailing frame is the difference of two such prefix frames:
    # everything so far, minus everything strictly older than the
    # window. O(rollup rows) total — measured 5.3 s on the same 5 M.
    base = Window.partitionBy("event_type").orderBy("sec")
    w_all = base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    w_old = base.rangeBetween(
        Window.unboundedPreceding, -(ZSCORE_FRAME_S + 1)
    )

    def framed_sum(col: str):
        return F.sum(col).over(w_all) - F.coalesce(
            F.sum(col).over(w_old), F.lit(0.0)
        )

    n = F.sum("cnt").over(w_all) - F.coalesce(
        F.sum("cnt").over(w_old), F.lit(0).cast("long")
    )
    s1 = framed_sum("s1")
    s2 = framed_sum("s2")
    framed = rollup.select(
        "event_type",
        "sec",
        n.alias("n_window"),
        (s1 / n).alias("mean"),
        # sample variance from power sums; clamp the cancellation
        # residue so a constant frame can't go epsilon-negative
        F.sqrt(
            F.greatest(
                (s2 - s1 * s1 / n) / (n - 1), F.lit(0.0)
            )
        ).alias("sd"),
    )
    return ev.withColumn("sec", sec).join(
        framed, ["event_type", "sec"]
    ).select(
        "event_id",
        "event_type",
        "n_window",
        F.when(
            (F.col("n_window") >= ZSCORE_MIN_N) & (F.col("sd") > 0),
            F.round((F.col("value") - F.col("mean")) / F.col("sd"), 6),
        ).alias("zscore"),
    )


def window_trailing_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-series z-score (see :func:`trailing_zscore`)."""
    return trailing_zscore(load_table(spark, sf_dir, "events"))


PATH_GAP_MIN = 30  # session gap, minutes
PATH_LEN = 3  # leading events per session that define the path
PATH_TOP = 15


def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize (30-min gap), take each session's
    first 3 event types in ``(ts, event_id)`` order, and count the
    resulting '>'-joined paths — the next-page / funnel-discovery view
    the reference dashboard approximates with raw event feeds.

    Scale posture: both windows partition by user (session numbering)
    or (user, session) (ordinal) — the same hash shuffle, reused; the
    per-session path assembles from ≤ 3 rows via an order-carrying
    struct sort inside one hash agg (no second window); the final
    top-15 over path counts compiles to TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = PATH_GAP_MIN * 60 * 1_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(by_user).cast("timestamp"))
    new_s = F.when(
        prev_us.isNull() | (us - prev_us > gap_us), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_s).over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    in_sess = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    first3 = sess.withColumn(
        "rn", F.row_number().over(in_sess)
    ).where(F.col("rn") <= PATH_LEN)
    paths = first3.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP)
    )


QUERIES: dict[str, QuerySpec] = {
    "window_trailing_zscore": QuerySpec(
        spark=window_trailing_zscore,
        oracle=f"""
            SELECT event_id, event_type,
                   count(value) OVER w AS n_window,
                   CASE WHEN count(value) OVER w >= {ZSCORE_MIN_N}
                             AND stddev_samp(value) OVER w > 0
                        THEN round((value - avg(value) OVER w)
                                   / stddev_samp(value) OVER w, 6)
                   END AS zscore
            FROM events
            WHERE value IS NOT NULL
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN {ZSCORE_FRAME_S} PRECEDING
                               AND CURRENT ROW)
        """,
        doc="Trailing 1-hour per-series z-score (range frame, null-guarded)",
        tags=("§2.11", "W"),
    ),
    "window_topk_per_hour": QuerySpec(
        spark=window_topk_per_hour,
        oracle="""
            SELECT * FROM (
              SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS hour,
                     row_number() OVER (
                       PARTITION BY date_trunc('hour', ts)
                       ORDER BY value DESC, event_id) AS rn,
                     event_id, user_id, value
              FROM events)
            WHERE rn <= 3
        """,
        doc="Top-k per time bucket (SURVEY §2.5 named example)",
        tags=("W", "O6"),
    ),
    "window_lag_delta": QuerySpec(
        spark=window_lag_delta,
        oracle="""
            SELECT user_id, event_id,
                   round(value - lag(value, 1) OVER w, 6) AS value_delta,
                   lead(event_id, 1) OVER w AS next_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        doc="lag/lead analytic offsets per user",
        tags=("W",),
    ),
    "window_running_sum": QuerySpec(
        spark=window_running_sum,
        oracle="""
            SELECT user_id, event_id,
                   round(sum(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                     AS running_value,
                   round(avg(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
                     AS trailing_avg3
            FROM events
        """,
        doc="Running-sum + moving-average frames",
        tags=("W",),
    ),
    "window_rank_customers": QuerySpec(
        spark=window_rank_customers,
        oracle="""
            SELECT c_mktsegment, c_custkey,
                   rank() OVER w AS bal_rank,
                   dense_rank() OVER w AS bal_dense_rank,
                   ntile(4) OVER w AS bal_quartile
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal DESC, c_custkey)
        """,
        doc="rank/dense_rank/ntile ranking family",
        tags=("W",),
    ),
    "window_sessionize_batch": QuerySpec(
        spark=window_sessionize_batch,
        oracle="""
            -- STRICT > on the gap: Spark's session_window treats an
            -- event at exactly start+gap as belonging to the session
            -- (windows that touch merge) — '>= gap starts a new
            -- session' splits one session in two at the boundary.
            -- The islands sum also carries the event_id tie-break
            -- (duplicate (user_id, ts) rows must consume the marker
            -- in the order marked assigned it).
            WITH marked AS (
              SELECT user_id, ts, value, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            islands AS (
              SELECT user_id, ts, value,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM marked)
            SELECT user_id,
                   strftime(CAST(min(ts) AS TIMESTAMP),
                            '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM islands GROUP BY user_id, session_id
        """,
        doc="Batch session_window vs gaps-and-islands oracle",
        tags=("W", "§2.11"),
    ),
    "session_paths_topk": QuerySpec(
        spark=session_paths_topk,
        oracle=f"""
            WITH ordered AS (
              SELECT user_id, event_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events),
            flagged AS (
              SELECT *,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w
                               > {PATH_GAP_MIN} * 60 * 1000000
                          THEN 1 ELSE 0 END AS new_s
              FROM ordered
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sess AS (
              SELECT *,
                     sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS session_id
              FROM flagged),
            first3 AS (
              SELECT user_id, session_id, event_type,
                     row_number() OVER (
                       PARTITION BY user_id, session_id
                       ORDER BY us, event_id) AS rn
              FROM sess
              QUALIFY rn <= {PATH_LEN}),
            paths AS (
              SELECT user_id, session_id,
                     string_agg(event_type, '>' ORDER BY rn) AS path
              FROM first3 GROUP BY 1, 2)
            SELECT path, count(*) AS n_sessions
            FROM paths GROUP BY path
            ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
        """,
        doc="Top session journey paths (first 3 events, 30-min sessions)",
        tags=("W", "§2.11"),
    ),
}
