"""Time-series analytics: OHLC bars, bivariate statistics, and SCD2
state-interval history (SURVEY §2.11 extensions of the reference's
token-price dashboard, ``streamlit 1.3.txt:83-113``, which shows only
the latest per-token snapshot).

All three are exactly SQL-expressible, so all three carry full-value
oracles:

* ``events_ohlc_bars`` — the candlestick rollup every price dashboard
  needs: per (event_type, hour), open/high/low/close of ``value``.
  Open/close are argmin/argmax over the total order ``(ts, event_id)``
  (event_id is unique, so the order is total and both engines agree
  without min_by tie-break ambiguity).
* ``agg_corr_regression`` — corr / covariance / least-squares
  regression of extended price on quantity per returnflag: one
  map-side-combinable aggregation pass (all six moments are
  sum-of-products sketches).
* ``scd2_state_intervals`` — the gaps-and-islands SCD2 build over the
  per-user event-type "state" stream (operators/scd.py).

Scale posture: OHLC and the bivariate stats are plain hash
aggregations (map-side partials, no window); the SCD2 build is one
shuffle on user_id feeding window + agg (exchange reuse). Nothing
here collects or self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.functions.timestamps import format_ts
from solana_etl_pipeline_spark.operators.scd import state_intervals
from solana_etl_pipeline_spark.queries.base import QuerySpec
from solana_etl_pipeline_spark.sources import load_table


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candlesticks of ``value`` per event type.

    ``min_by``/``max_by`` over ``struct(ts, event_id)`` pick the
    first/last event in the bar under a TOTAL order, so open/close are
    deterministic in both engines (the oracle uses row_number over the
    same order)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.withColumn("hour", format_ts(F.date_trunc("hour", F.col("ts"))))
        .groupBy("event_type", "hour")
        .agg(
            F.round(F.min_by("value", order_key), 6).alias("open_value"),
            F.round(F.max("value"), 6).alias("high_value"),
            F.round(F.min("value"), 6).alias("low_value"),
            F.round(F.max_by("value", order_key), 6).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per returnflag: Pearson corr, sample/pop
    covariance, and the least-squares fit of extended price on
    quantity. Every statistic is a function of the six running sums
    (n, Σx, Σy, Σxx, Σyy, Σxy) — one mergeable aggregation pass, the
    same cost as a sum at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.corr(x, y), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(x, y), 4).alias("covar_samp_qty_price"),
        F.round(F.covar_pop(x, y), 4).alias("covar_pop_qty_price"),
        F.round(F.regr_slope(y, x), 6).alias("regr_slope_price_on_qty"),
        F.round(F.regr_intercept(y, x), 4).alias("regr_intercept_price_on_qty"),
        F.round(F.regr_r2(y, x), 6).alias("regr_r2_price_on_qty"),
    )


def scd2_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity history of each user's event-type 'state': runs of
    consecutive equal event types collapse to one
    ``[valid_from, valid_to)`` interval; the open run is flagged
    current."""
    ev = load_table(spark, sf_dir, "events")
    return state_intervals(
        ev, key="user_id", state_col="event_type", ts_col="ts",
        tie_col="event_id",
    )


# Gap-fill threshold: value >= 200 thins the stream enough that hourly
# gaps exist at every fixture SF (sf0.001: ~15 observed hours on a
# ~1500-hour spine; sf0.1: ~1400 of ~3600) while observations remain.
GAPFILL_MIN_VALUE = 200.0


def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-filled resample with last-observation-carried-forward
    (the hypertable ``time_bucket_gapfill + locf`` surface the
    reference's dashboard charts would need for sparse series,
    ``streamlit 1.3.txt:96-104``).

    Scale posture: raw events are touched exactly once (the hourly
    hash rollup); the spine, join, and LOCF window all run over
    ROLLUP-sized data (series × hours — dimension-scale, not
    event-scale), so the window partition-by-series cost is
    independent of raw volume. The per-hour average is rounded
    BEFORE the carry-forward so both engines propagate identical
    doubles."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value") >= GAPFILL_MIN_VALUE
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    joined = spine.join(hourly, ["event_type", "hour_ts"], "left")
    locf = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        format_ts(F.col("hour_ts")).alias("hour"),
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(locf).alias(
            "filled_value"
        ),
        F.col("n_events").isNull().alias("is_gap"),
    )


def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type: each
    observation is weighted by how long it remained the series'
    latest reading (until the next event in the same
    ``(user_id, event_type)`` series). The standard hypertable
    ``time_weight('LOCF')`` aggregate for irregular telemetry, where
    a plain mean over-counts bursts.

    Scale posture: one shuffle on the fine-grained
    ``(user_id, event_type)`` series key feeds the ``lead`` window
    (high cardinality — parallel, skew-free), then the rollup is a
    map-side-combinable hash agg. Durations are exact BIGINT
    microseconds (``unix_micros``/``epoch_us``), so only the final
    double ratios carry float error — orders of magnitude below the
    1e-6 rounding grain."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    series = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    # the fixture reads ts as TIMESTAMP_NTZ; unix_micros needs TIMESTAMP
    # and the session zone is UTC, so the cast is wall-clock identity
    micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    seg = ev.withColumn(
        "dt_us",
        micros(F.lead("ts").over(series)) - micros(F.col("ts")),
    ).filter(F.col("dt_us").isNotNull())
    return seg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.round(
            F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 6
        ).alias("twa_value"),
        F.round(F.avg("value"), 6).alias("plain_avg_value"),
        F.round(
            F.sum("dt_us").cast("double") / F.lit(3.6e9), 4
        ).alias("total_hours"),
    )


COVERAGE_HOLD_S = 1800  # each event holds the user "active" 30 min
COVERAGE_TOP = 100


def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands activity coverage: each event opens a 30-minute
    activity interval; overlapping intervals merge into islands
    (operators/intervals.py) and the top-100 users by exact merged
    active seconds are reported.

    The classical interval-merge primitive the reference's feed view
    (`streamlit 1.3.txt:83-113`) leaves to the reader. Scale posture:
    one shuffle on user_id shared by both window passes and the island
    rollup (exchange reuse); no interval self-join (the O(n²) overlap
    join becomes an O(n log n) sorted sweep). All durations are exact
    BIGINT microseconds — no float tolerance anywhere — and the top-k
    compiles to TakeOrderedAndProject."""
    from solana_etl_pipeline_spark.operators.intervals import (
        interval_coverage,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    cov = interval_coverage(
        ev, key_col="user_id", ts_col="ts", hold_seconds=COVERAGE_HOLD_S
    )
    return (
        cov.select(
            F.col("key").alias("user_id"),
            "n_islands",
            "covered_sec",
            "n_events",
        )
        .orderBy(
            F.desc("covered_sec"), F.desc("n_islands"), F.asc("user_id")
        )
        .limit(COVERAGE_TOP)
    )


EWMA_ALPHA = 0.3
EWMA_WINDOW = 20  # truncated horizon: (1-α)^20 < 0.08% residual mass
# Weights (1-α)^k precomputed in Python and injected as literals into
# BOTH plans — cross-libm pow() at the last ulp never enters either
# engine's arithmetic.
EWMA_WEIGHTS = tuple(
    round((1.0 - EWMA_ALPHA) ** k, 12) for k in range(EWMA_WINDOW)
)


def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of the hourly
    mean ``value`` per event type — the dashboard smoother
    (`streamlit 1.3.txt:96-104` charts raw per-refresh points). The
    classical recursive EWMA is sequential; the truncated form
    ``Σ w_k·x_{t-k} / Σ w_k`` over the last 20 observed hours is
    embarrassingly parallel and self-normalizing across gaps and
    series starts (missing hours simply contribute no weight).

    Scale posture: raw events are touched once (the hourly rollup);
    the 20× contribution fan-out is a map-side ``explode`` over
    ROLLUP-sized rows (series × hours), re-aggregated by one hash agg
    on the same key grain; no window function at all. Hourly means
    are rounded BEFORE weighting so both engines combine identical
    doubles."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.round(F.avg("value"), 6).alias("avg_value"))
    w_arr = F.array(*[F.lit(w) for w in EWMA_WEIGHTS])
    contrib = hourly.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(EWMA_WINDOW - 1))).alias("k"),
        F.col("hour_ts").alias("obs_hour"),
        "avg_value",
    ).select(
        "event_type",
        (
            F.col("obs_hour")
            + F.make_interval(hours=F.col("k").cast("int"))
        ).alias("hour_ts"),
        (F.element_at(w_arr, F.col("k").cast("int") + 1)).alias("w"),
        "avg_value",
    )
    smoothed = contrib.groupBy("event_type", "hour_ts").agg(
        F.round(
            F.sum(F.col("w") * F.col("avg_value")) / F.sum("w"), 6
        ).alias("ewma_value"),
        F.count(F.lit(1)).alias("n_contrib"),
    )
    # inner join back to observed hours: EWMA is reported only where
    # the series actually has a point (the gap-fill query owns spines)
    return smoothed.join(hourly, ["event_type", "hour_ts"]).select(
        "event_type",
        format_ts(F.col("hour_ts")).alias("hour"),
        "avg_value",
        "ewma_value",
        "n_contrib",
    )


SEASONAL_TOP = 20


def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly report: the (event_type, weekday,
    hour-of-day) mean is the seasonal profile — the classical
    dashboard decomposition for daily/weekly rhythm — and the top-20
    largest absolute residuals against it are the anomalies.

    Scale posture: the profile is one map-side hash agg to ≤ types ×
    168 rows, which then BROADCASTS back onto the raw stream (the
    residual pass is map-side); the top-20 compiles to
    TakeOrderedAndProject. Weekday convention: Spark ``weekday()``
    (0 = Monday) ≡ DuckDB ``isodow − 1``; the profile mean is rounded
    before the residual subtraction so both engines difference
    identical doubles."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    keyed = ev.select(
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
        F.weekday("ts").alias("dow"),
        F.hour("ts").alias("hod"),
    )
    profile = keyed.groupBy("event_type", "dow", "hod").agg(
        F.round(F.avg("value"), 6).alias("seasonal"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    resid = keyed.join(
        F.broadcast(profile), ["event_type", "dow", "hod"]
    ).select(
        "event_id",
        "event_type",
        format_ts(F.col("ts")).alias("ts"),
        "value",
        "seasonal",
        F.round(F.col("value") - F.col("seasonal"), 6).alias("residual"),
        "n_obs",
    )
    return resid.orderBy(
        F.desc(F.abs(F.col("residual"))), "event_id"
    ).limit(SEASONAL_TOP)


QUERIES: dict[str, QuerySpec] = {
    "events_ohlc_bars": QuerySpec(
        spark=events_ohlc_bars,
        oracle="""
            WITH v AS (
              SELECT event_type,
                     strftime(date_trunc('hour', ts),
                              '%Y-%m-%d %H:%M:%S') AS hour,
                     ts, event_id, value
              FROM events WHERE value IS NOT NULL),
            r AS (
              SELECT *,
                     row_number() OVER (PARTITION BY event_type, hour
                                        ORDER BY ts, event_id) AS rn_a,
                     row_number() OVER (PARTITION BY event_type, hour
                                        ORDER BY ts DESC, event_id DESC)
                       AS rn_d
              FROM v)
            SELECT event_type, hour,
                   round(max(CASE WHEN rn_a = 1 THEN value END), 6)
                     AS open_value,
                   round(max(value), 6) AS high_value,
                   round(min(value), 6) AS low_value,
                   round(max(CASE WHEN rn_d = 1 THEN value END), 6)
                     AS close_value,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM r GROUP BY event_type, hour
        """,
        doc="Hourly OHLC candlestick bars of value per event type",
        tags=("§2.11", "A"),
    ),
    "agg_corr_regression": QuerySpec(
        spark=agg_corr_regression,
        oracle="""
            SELECT l_returnflag,
                   count(*) AS n_rows,
                   round(corr(l_quantity, l_extendedprice), 6)
                     AS corr_qty_price,
                   round(covar_samp(l_quantity, l_extendedprice), 4)
                     AS covar_samp_qty_price,
                   round(covar_pop(l_quantity, l_extendedprice), 4)
                     AS covar_pop_qty_price,
                   round(regr_slope(l_extendedprice, l_quantity), 6)
                     AS regr_slope_price_on_qty,
                   round(regr_intercept(l_extendedprice, l_quantity), 4)
                     AS regr_intercept_price_on_qty,
                   round(regr_r2(l_extendedprice, l_quantity), 6)
                     AS regr_r2_price_on_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        doc="corr/covar/regression of price on quantity per returnflag",
        tags=("§2.11", "A"),
    ),
    "scd2_state_intervals": QuerySpec(
        spark=scd2_state_intervals,
        oracle="""
            WITH ordered AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN lag(event_type) OVER w IS NULL
                            OR event_type <> lag(event_type) OVER w
                          THEN 1 ELSE 0 END AS changed
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            runs AS (
              SELECT *,
                     sum(changed) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS run
              FROM ordered),
            intervals AS (
              SELECT user_id, run, event_type AS state,
                     min(ts) AS valid_from, count(*) AS n_events
              FROM runs GROUP BY user_id, run, event_type)
            SELECT user_id, state, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY run) AS valid_to,
                   n_events,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY run) IS NULL
                     AS is_current
            FROM intervals
        """,
        doc="SCD2 gaps-and-islands validity intervals of user state",
        tags=("§2.11", "W"),
    ),
    "events_gapfill_locf": QuerySpec(
        spark=events_gapfill_locf,
        oracle="""
            WITH hourly AS (
              -- CAST ts to us-precision TIMESTAMP, the precision
              -- Spark reads.
              SELECT event_type,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
                     count(*) AS n_events,
                     round(avg(value), 6) AS avg_value
              FROM events WHERE value >= 200.0
              GROUP BY 1, 2),
            bounds AS (
              SELECT event_type, min(hour_ts) AS lo, max(hour_ts) AS hi
              FROM hourly GROUP BY 1),
            spine AS (
              SELECT event_type,
                     unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                       AS hour_ts
              FROM bounds),
            j AS (
              SELECT s.event_type, s.hour_ts, h.n_events, h.avg_value
              FROM spine s LEFT JOIN hourly h
                ON s.event_type = h.event_type
               AND s.hour_ts = h.hour_ts)
            SELECT event_type,
                   strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour,
                   coalesce(n_events, 0) AS n_events,
                   avg_value,
                   last_value(avg_value IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY hour_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS filled_value,
                   (n_events IS NULL) AS is_gap
            FROM j
        """,
        doc="Hourly gap-filled resample with LOCF over sparse series",
        tags=("§2.11", "W"),
    ),
    "events_time_weighted_avg": QuerySpec(
        spark=events_time_weighted_avg,
        oracle="""
            WITH seg AS (
              -- us-precision CAST, the precision Spark reads
              SELECT event_type, value,
                     epoch_us(lead(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY CAST(ts AS TIMESTAMP), event_id))
                       - epoch_us(CAST(ts AS TIMESTAMP)) AS dt_us
              FROM events WHERE value IS NOT NULL)
            SELECT event_type,
                   count(*) AS n_segments,
                   round(sum(value * dt_us) / sum(dt_us), 6) AS twa_value,
                   round(avg(value), 6) AS plain_avg_value,
                   round(CAST(sum(dt_us) AS DOUBLE) / 3.6e9, 4)
                     AS total_hours
            FROM seg WHERE dt_us IS NOT NULL
            GROUP BY event_type
        """,
        doc="Time-weighted average per event type (LOCF segment weights)",
        tags=("§2.11", "A", "W"),
    ),
    "events_interval_coverage": QuerySpec(
        spark=events_interval_coverage,
        oracle=f"""
            WITH base AS (
              SELECT user_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS s,
                     epoch_us(CAST(ts AS TIMESTAMP))
                       + {COVERAGE_HOLD_S} * 1000000 AS e
              FROM events WHERE ts IS NOT NULL),
            flagged AS (
              SELECT user_id, s, e,
                     CASE WHEN max(e) OVER w IS NULL
                            OR s > max(e) OVER w
                          THEN 1 ELSE 0 END AS new_island
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING)),
            numbered AS (
              SELECT user_id, s, e,
                     sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
              FROM flagged),
            islands AS (
              SELECT user_id, island,
                     min(s) AS i_start, max(e) AS i_end,
                     count(*) AS n_ev
              FROM numbered GROUP BY 1, 2)
            SELECT user_id,
                   count(*) AS n_islands,
                   CAST(floor(sum(i_end - i_start) / 1000000)
                        AS BIGINT) AS covered_sec,
                   CAST(sum(n_ev) AS BIGINT) AS n_events
            FROM islands GROUP BY user_id
            ORDER BY covered_sec DESC, n_islands DESC, user_id
            LIMIT {COVERAGE_TOP}
        """,
        doc="Merged 30-min activity islands per user, top-100 coverage",
        tags=("§2.11", "W"),
    ),
    "events_ewma_hourly": QuerySpec(
        spark=events_ewma_hourly,
        oracle=f"""
            WITH hourly AS (
              SELECT event_type,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
                     round(avg(value), 6) AS avg_value
              FROM events GROUP BY 1, 2),
            contrib AS (
              SELECT h.event_type,
                     h.hour_ts + to_hours(k.k) AS hour_ts,
                     [{", ".join(f"{w}e0" for w in EWMA_WEIGHTS)}][k.k + 1]
                       AS w,
                     h.avg_value
              FROM hourly h
              CROSS JOIN (
                SELECT unnest(range({EWMA_WINDOW})) AS k) k),
            smoothed AS (
              SELECT event_type, hour_ts,
                     round(sum(w * avg_value) / sum(w), 6) AS ewma_value,
                     count(*) AS n_contrib
              FROM contrib GROUP BY 1, 2)
            SELECT s.event_type,
                   strftime(s.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour,
                   h.avg_value, s.ewma_value, s.n_contrib
            FROM smoothed s
            JOIN hourly h
              ON h.event_type = s.event_type AND h.hour_ts = s.hour_ts
        """,
        doc="Truncated 20-hour EWMA smoother, window-free and gap-safe",
        tags=("§2.11", "A", "W"),
    ),
    "events_seasonal_anomalies": QuerySpec(
        spark=events_seasonal_anomalies,
        oracle=f"""
            WITH keyed AS (
              SELECT event_id, event_type,
                     CAST(ts AS TIMESTAMP) AS ts, value,
                     isodow(ts) - 1 AS dow,
                     hour(ts) AS hod
              FROM events WHERE value IS NOT NULL),
            profile AS (
              SELECT event_type, dow, hod,
                     round(avg(value), 6) AS seasonal,
                     count(*) AS n_obs
              FROM keyed GROUP BY 1, 2, 3)
            SELECT k.event_id, k.event_type,
                   strftime(k.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   k.value, p.seasonal,
                   round(k.value - p.seasonal, 6) AS residual,
                   p.n_obs
            FROM keyed k
            JOIN profile p USING (event_type, dow, hod)
            ORDER BY abs(round(k.value - p.seasonal, 6)) DESC, k.event_id
            LIMIT {SEASONAL_TOP}
        """,
        doc="Weekday×hour seasonal profile, top-20 residual anomalies",
        tags=("§2.11", "A"),
    ),
}
