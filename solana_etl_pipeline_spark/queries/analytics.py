"""Rollup-analytics queries: histogram-quantile hypertable rollup and
ordered conversion funnel (SURVEY §2.4/§2.11 extensions of the
reference's dashboard aggregations, ``streamlit 1.3.txt:96-104``,
which recompute per-type stats over raw rows on every refresh).

Both are exactly SQL-expressible — the histogram estimate is pure
BIGINT rank arithmetic plus two exact float ops, and the funnel is a
chain of dup-insensitive ``min(ts)`` aggregations — so both carry
full-value oracles (no tolerance bands needed, unlike the HLL
rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.operators.funnel import ordered_funnel
from solana_etl_pipeline_spark.operators.sketches import (
    cms_daily_rollup,
    cms_range_estimates,
    range_quantile_estimates,
    value_histogram_rollup,
)
from solana_etl_pipeline_spark.queries.base import QuerySpec
from solana_etl_pipeline_spark.sources import load_table

# Mid-month range so the rollup's day pruning is load-bearing.
HIST_START, HIST_END = "2024-01-08", "2024-01-22"
HIST_BINS, HIST_LO, HIST_HI = 64, 0.0, 512.0
_HIST_WIDTH = (HIST_HI - HIST_LO) / HIST_BINS
HIST_QS = (0.5, 0.9, 0.99)

FUNNEL_STEPS = ("signup", "click", "purchase")
FUNNEL_WITHIN = "7 days"


def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day histogram rollup → p50/p90/p99 of ``value`` over a
    two-week range. The raw events are touched once (the rollup); the
    quantile math runs over ≤ 64 rollup rows."""
    ev = load_table(spark, sf_dir, "events")
    rollup = value_histogram_rollup(
        ev, n_bins=HIST_BINS, lo=HIST_LO, hi=HIST_HI
    )
    return range_quantile_estimates(
        rollup,
        qs=HIST_QS,
        start_day=HIST_START,
        end_day=HIST_END,
        n_bins=HIST_BINS,
        lo=HIST_LO,
        hi=HIST_HI,
    )


def funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → click → purchase funnel, 7-day budget from signup."""
    ev = load_table(spark, sf_dir, "events")
    return ordered_funnel(
        ev, steps=FUNNEL_STEPS, within=FUNNEL_WITHIN
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: users grouped by first-active
    week; ``n_users`` = distinct users of that cohort active again
    ``week_offset`` weeks later. The product-analytics staple the
    reference's dashboard cannot express (it has no self-referential
    time grouping).

    Plan: the (user, week) activity grid dedups once, the cohort table
    derives from it with the same user_id shuffle key (exchange
    reuse through the join), and the final rollup is a plain hash agg.
    Both week truncations are Monday-based in Spark and DuckDB; the
    /7 division is exact because both operands are week-aligned.
    """
    ev = load_table(spark, sf_dir, "events")
    user_week = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = user_week.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    return (
        user_week.join(cohort, "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


CMS_DEPTH, CMS_WIDTH = 4, 256
# Same mid-month range as the histogram rollup: the sketch is built
# over ALL days and the range is resolved against rollup rows, so the
# day pruning is load-bearing here too.
CMS_START, CMS_END = HIST_START, HIST_END


def sketch_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min per-user event frequencies over a two-week range,
    pinned cell-by-cell against exact counts: the daily CMS rollup is
    merged across the range, every in-range user's estimate is the
    min over its ``depth`` probed cells, and the emitted
    ``overestimate = est - exact`` is the sketch's collision error —
    ≥ 0 by construction, exactly reproducible by the oracle because
    the md5 cell hash is bit-identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    rollup = cms_daily_rollup(
        ev, "user_id", depth=CMS_DEPTH, width=CMS_WIDTH
    )
    in_range = ev.filter(
        F.col("user_id").isNotNull()
        & (F.to_date("ts") >= F.lit(CMS_START).cast("date"))
        & (F.to_date("ts") < F.lit(CMS_END).cast("date"))
    )
    exact = in_range.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    est = cms_range_estimates(
        rollup,
        exact.select("user_id"),
        item_col="user_id",
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
        start_day=CMS_START,
        end_day=CMS_END,
    )
    return (
        exact.join(
            est, F.col("item") == F.col("user_id").cast("string")
        )
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias(
                "overestimate"
            ),
        )
    )


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: ``P(next event type | current event type)`` — the
    product-analytics path model (where do users go after a click?)
    that the funnel's fixed step order cannot express.

    Plan: one ``lead`` window on the fine-grained user_id series key
    (parallel, skew-free), then two dimension-sized hash aggs
    (|types|² transition counts, |types| row totals) joined broadcast.
    Raw events are touched once."""
    ev = load_table(spark, sf_dir, "events")
    series = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(series))
        .filter(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
    )
    counts = trans.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("total")
    )
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.col("total"), 6
        ).alias("p_transition"),
    )


PARETO_K = 100


def pareto_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: the top-100 parts by discounted revenue
    with each part's cumulative share of TOTAL corpus revenue — the
    '20% of parts drive 80% of revenue' concentration report.

    Scale posture: per-part revenue is one map-side-combinable hash
    agg; the top-100 cut compiles to TakeOrderedAndProject; the
    cumulative window then runs over the 100 SURVIVING rows only
    (never the full part table — a global ranked cumsum over all
    parts would be the single-partition window anti-pattern), with
    the 1-row total riding a broadcast scalar combine."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )
    total = rev.agg(F.round(F.sum("revenue"), 4).alias("total_revenue"))
    top = rev.orderBy(F.desc("revenue"), "l_partkey").limit(PARETO_K)
    order = Window.orderBy(F.desc("revenue"), "l_partkey")
    cum = F.sum("revenue").over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(order).alias("part_rank"),
            "l_partkey",
            "revenue",
            F.round(cum, 4).alias("cum_revenue"),
            F.round(cum / F.col("total_revenue"), 6).alias("cum_share"),
        )
    )


def _q_rank_sql(q: float) -> str:
    q_micro = int(round(q * 1_000_000))
    return f"greatest(1, ({q_micro} * total + 999999) // 1000000)"


# e0-suffixed literals: DuckDB parses bare 0.5/8.0 as DECIMAL and the
# whole est expression would come back decimal-typed (the driver
# hashes Arrow types); scientific notation forces DOUBLE, matching
# Spark's literal typing.
_HIST_Q_SELECTS = "\n            UNION ALL\n".join(
    f"""            SELECT {int(round(q * 1_000_000))} / 1000000.0e0 AS q,
                   CAST({_q_rank_sql(q)} AS BIGINT) AS rank,
                   CAST(total AS BIGINT) AS total,
                   round({HIST_LO}e0 + (min(bin) + 0.5e0) * {_HIST_WIDTH}e0,
                         6) AS est
            FROM cum WHERE cum >= {_q_rank_sql(q)}
            GROUP BY total"""
    for q in HIST_QS
)

ATTR_WINDOW_S = 7 * 86400  # attribution lookback: 7 days


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent NON-purchase event within the 7 days before
    it, rolled up by touch type — the marketing-attribution view the
    funnel (ordered steps) and as-of join (nearest-prior) queries
    don't cover: here the touch channel varies per conversion.

    Scale posture: ONE shuffle on user_id; the last-qualifying-touch
    carries forward via ``last(..., ignorenulls)`` over the user
    window (incremental frame, no per-purchase rescan, no self-join);
    the final rollup is a hash agg over ≤ |event types| rows. The
    7-day budget and the touch→purchase latency use exact BIGINT
    microseconds."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(
                us.alias("t_us"), F.col("event_type").alias("t_type")
            ),
        ),
        ignorenulls=True,
    ).over(w)
    flagged = (
        ev.withColumn("u_us", us)
        .withColumn("touch", touch)
        .where(F.col("event_type") == "purchase")
        .select(
            "value",
            "u_us",
            F.col("touch.t_type").alias("touch_type"),
            F.col("touch.t_us").alias("t_us"),
        )
    )
    attributed = flagged.select(
        F.when(
            F.col("t_us").isNotNull()
            & (F.col("u_us") - F.col("t_us") <= ATTR_WINDOW_S * 1_000_000),
            F.col("touch_type"),
        )
        .otherwise(F.lit("(none)"))
        .alias("touch_type"),
        "value",
        (F.col("u_us") - F.col("t_us")).alias("lag_us"),
    )
    return attributed.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("value"), 4).alias("attributed_value"),
        F.round(
            F.avg(
                F.when(
                    F.col("touch_type") != "(none)",
                    F.col("lag_us") / F.lit(60_000_000.0),
                )
            ),
            6,
        ).alias("avg_minutes_to_convert"),
    )


def orders_mom_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue: monthly order totals with absolute
    and percentage deltas vs the prior month — the standard
    period-over-period finance report.

    Scale posture: raw orders collapse in ONE map-side hash agg to
    month-grain rows; the lag window then runs over those ≤ dozens of
    rollup rows (the unpartitioned window is over the MONTH dimension,
    never raw orders). Sums round before differencing so both engines
    subtract identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(
            F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
        ).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        F.round(F.col("revenue") - prev, 4).alias("mom_delta"),
        F.round((F.col("revenue") - prev) / prev * 100.0, 6).alias(
            "mom_pct"
        ),
    )


FULFILL_BANDS = (7, 30, 90)  # latency band edges, days


def order_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment latency distribution: days from order date to
    the LAST line shipment, banded (≤7, ≤30, ≤90, >90 days) with order
    counts and average order value per band.

    Scale posture: lineitem collapses to per-order max shipdate in one
    hash agg on the SAME orderkey the join then uses (exchange reuse);
    latency is an exact whole-day datediff; the band rollup is ≤ 4
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    shipped = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    lat = orders.join(
        shipped, orders["o_orderkey"] == shipped["l_orderkey"]
    ).select(
        F.datediff(
            F.col("last_ship"), F.to_date("o_orderdate")
        ).alias("days"),
        "o_totalprice",
    )
    band = (
        F.when(F.col("days") <= FULFILL_BANDS[0], "a_week")
        .when(F.col("days") <= FULFILL_BANDS[1], "b_month")
        .when(F.col("days") <= FULFILL_BANDS[2], "c_quarter")
        .otherwise("d_longer")
    )
    return lat.groupBy(band.alias("latency_band")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("days").alias("min_days"),
        F.max("days").alias("max_days"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_order_value"),
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3
PAGERANK_TOP = 30


def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite part↔supplier supply graph (edges =
    distinct (l_partkey, l_suppkey) pairs from lineitem), 3 damped
    iterations — which parts/suppliers are most central to the supply
    network. The iterative-join complement of the connected-components
    operator; see operators/graph.py for the per-iteration rounding
    discipline that keeps both engines bit-aligned.

    Scale posture: degree rides the edge rows (no per-iteration degree
    join); each iteration is one equi-join + one hash agg; the rank
    frame stays O(|V|); top-30 on the rounded rank compiles to
    TakeOrderedAndProject."""
    from solana_etl_pipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    # Every loop-side shuffle stays on BIGINT keys: nodes are
    # parity-tagged integers (part k → 2k, supplier k → 2k+1 —
    # disjoint namespaces, so no post-union dedup either:
    # dedup_edges=False), decoded to their 'p:'/'s:' labels only on
    # the 30 output rows. String node ids tripled the edge-shuffle
    # bytes and dominated the wall clock.
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    # |V| ≤ |part| + |supplier| — dimension-bounded, so the rank frame
    # broadcasts and the 591 k-edge set never shuffles inside the loop.
    ranks = pagerank(
        edges,
        damping=PAGERANK_DAMPING,
        n_iter=PAGERANK_ITERS,
        dedup_edges=False,
    )
    label = F.when(
        F.col("node").bitwiseAND(1) == 0,
        F.concat(
            F.lit("p:"), F.shiftright("node", 1).cast("string")
        ),
    ).otherwise(
        F.concat(F.lit("s:"), F.shiftright("node", 1).cast("string"))
    )
    return (
        ranks.select(
            label.alias("node"), F.round("rank", 6).alias("rank")
        )
        .orderBy(F.desc("rank"), "node")
        .limit(PAGERANK_TOP)
    )


BASKET_MIN_PAIR = 2
BASKET_TOP = 20


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over orders-as-baskets: for
    part pairs co-occurring in ≥ 2 orders, support / confidence / lift
    from exact BIGINT counts; top-20 by lift.

    Scale posture (r16 rewrite, guide §2.3 "aggregate before you
    shuffle" / §3.3 "explode after the join"): ONE shuffle of
    (orderkey, partkey) into per-order sorted distinct item arrays
    (bounded by lines-per-order, TPC-H ≤ 7), then the p1 < p2 pairs
    GENERATE map-side from each array (≤ 21 per order) straight into
    the pair aggregate — the old self-equi-join shuffled the item
    table twice more and joined it against itself for the same ≤ 21
    pairs per order. Item frequencies and the basket count read the
    same persisted basket frame (explode / count — no extra scan).
    The 1-row basket total rides a broadcast scalar combine; ratios
    derive from exact BIGINTs and round at 1e-6."""
    li = load_table(spark, sf_dir, "lineitem")
    # one shuffle: per-order sorted distinct item array; persisted —
    # the pair stage, the frequency table, and the basket count all
    # consume it (one lineitem scan total).
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .persist()
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    # in-order pair generation over the sorted array: (ps[i], ps[j])
    # for i < j ⇒ exactly the old a.p < b.p pair set, once each
    ps = F.col("ps")
    pair_arr = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + 2, F.greatest(F.size(ps) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .groupBy(
            F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= BASKET_MIN_PAIR)
    )
    freq = baskets.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        pairs.join(
            freq.select(F.col("p").alias("p1"), F.col("cnt").alias("c1")),
            "p1",
        )
        .join(
            freq.select(F.col("p").alias("p2"), F.col("cnt").alias("c2")),
            "p2",
        )
        .crossJoin(F.broadcast(n_orders))  # 1-row scalar combine
        .select(
            "p1",
            "p2",
            "pair_cnt",
            F.round(F.col("pair_cnt") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("pair_cnt") / F.col("c1"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_cnt") * F.col("n_orders")
                / (F.col("c1") * F.col("c2")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "p1", "p2").limit(BASKET_TOP)


RFM_TILES = 5


def _value_quantile_tiles(
    metrics: DataFrame,
    value_col: str,
    tile_col: str,
    ascending: bool,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Value-cohesive n-tile assignment: every row with the same
    metric value gets the same tile (tile of the value's LAST global
    rank), so no within-value total order — and therefore no global
    single-partition window over users — is ever needed. The cumsum
    window runs over the DISTINCT-VALUE rollup only (bounded: recency
    is whole days, frequency small integers, monetary pre-banded to
    whole units), and the tile map broadcasts back onto users.
    ``counts`` forwards a precomputed ``(value_col, cnt)`` rollup
    (r16: the three RFM rollups come out of ONE grouping-sets pass)."""
    if counts is None:
        counts = metrics.groupBy(value_col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    order = (
        Window.orderBy(F.asc(value_col))
        if ascending
        else Window.orderBy(F.desc(value_col))
    )
    cum = F.sum("cnt").over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum("cnt").over(
        order.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    tiles = counts.select(
        value_col,
        (
            F.lit(1)
            + F.floor(
                (cum - F.lit(1)) * F.lit(RFM_TILES) / total
            )
        ).cast("int").alias(tile_col),
    )
    return metrics.join(F.broadcast(tiles), value_col)


def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over purchase events: per-user Recency (whole
    days since last purchase vs the corpus max), Frequency (purchase
    count), Monetary (banded to whole value units) → value-cohesive
    quintiles → segment rollup.

    Scale posture: the per-user metric build is one hash agg on
    user_id; each quintile assignment windows over the DISTINCT-VALUE
    rollup only (days/counts/whole-unit bands — dimension-sized, never
    users) and broadcasts the tile map back, so no global user-ordered
    window exists anywhere in the plan (the textbook ntile would be a
    single-partition sort over all users). The final segment rollup is
    ≤ 125 groups."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    ref = purch.agg(F.max("ts_us").alias("ref_us"))
    per_user = (
        purch.groupBy("user_id")
        .agg(
            F.max("ts_us").alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))  # 1-row scalar combine
        .select(
            "user_id",
            F.floor(
                (F.col("ref_us") - F.col("last_us")) / F.lit(86_400_000_000)
            ).alias("recency_days"),
            "frequency",
            F.floor("monetary").alias("monetary_band"),
        )
        # Persist: each tiling stage otherwise re-derives the rollup
        # from raw events for both its counts branch and its join
        # branch — the unpersisted plan re-scanned events 16× (42
        # exchanges); persisted, one scan feeds all three tilings
        # (measured 2.3 s → 1.4 s at sf0.1).
        .persist()
    )
    # r16 (guide §2.4): the three distinct-value rollups compute in
    # ONE grouping-sets aggregation (Expand ×3 over the persisted
    # per-user frame) instead of three separate groupBy passes — one
    # shuffle, one set of stages; grouping_id() splits the result back
    # into the per-metric count tables (a genuinely-NULL metric value
    # stays distinguishable from an aggregated-away column, so the
    # counts are exactly the per-metric groupBy counts, null groups
    # included — those keep shifting later tiles via the cumsum just
    # as before while never joining back, the inner-join semantics the
    # old path had).
    rfm_cols = ("recency_days", "frequency", "monetary_band")
    rollups = per_user.groupingSets(
        [[c] for c in rfm_cols], *[F.col(c) for c in rfm_cols]
    ).agg(
        F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("_gid")
    ).persist()

    def _counts_for(col: str) -> DataFrame:
        # grouping_id bit = 1 where the column is aggregated away; the
        # set keeping ONLY `col` has every other bit set
        gid = sum(
            1 << (len(rfm_cols) - 1 - i)
            for i, c in enumerate(rfm_cols)
            if c != col
        )
        return rollups.filter(F.col("_gid") == gid).select(col, "cnt")

    tiled = _value_quantile_tiles(
        per_user, "recency_days", "r_tile", ascending=True,
        counts=_counts_for("recency_days"),
    )
    tiled = _value_quantile_tiles(
        tiled, "frequency", "f_tile", ascending=False,
        counts=_counts_for("frequency"),
    )
    tiled = _value_quantile_tiles(
        tiled, "monetary_band", "m_tile", ascending=False,
        counts=_counts_for("monetary_band"),
    )
    return (
        tiled.groupBy("r_tile", "f_tile", "m_tile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("frequency"), 6).alias("avg_frequency"),
            F.round(F.avg("monetary_band"), 6).alias("avg_monetary_band"),
        )
    )


QUERIES: dict[str, QuerySpec] = {
    "agg_histogram_quantiles": QuerySpec(
        spark=agg_histogram_quantiles,
        oracle=f"""
            WITH binned AS (
              SELECT CAST(ts AS DATE) AS day,
                     least({HIST_BINS - 1}, greatest(0,
                       CAST(floor((value - {HIST_LO}) / {_HIST_WIDTH})
                            AS INT))) AS bin,
                     count(*) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
            scoped AS (
              SELECT bin, sum(n) AS n FROM binned
              WHERE day >= DATE '{HIST_START}' AND day < DATE '{HIST_END}'
              GROUP BY 1),
            cum AS (
              SELECT bin, n,
                     sum(n) OVER (ORDER BY bin) AS cum,
                     (SELECT sum(n) FROM scoped) AS total
              FROM scoped)
{_HIST_Q_SELECTS}
        """,
        doc="Mergeable per-day histogram rollup → range p50/p90/p99",
        tags=("§2.11", "A"),
    ),
    "funnel_conversion_steps": QuerySpec(
        spark=funnel_conversion_steps,
        oracle=f"""
            WITH s1 AS (
              SELECT user_id AS u, min(ts) AS t1 FROM events
              WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1),
            s2 AS (
              SELECT e.user_id AS u, min(s1.t1) AS t1, min(e.ts) AS t2
              FROM events e JOIN s1 ON s1.u = e.user_id
              WHERE e.event_type = '{FUNNEL_STEPS[1]}'
                AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL 7 DAY
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id AS u, min(s2.t1) AS t1, min(e.ts) AS t3
              FROM events e JOIN s2 ON s2.u = e.user_id
              WHERE e.event_type = '{FUNNEL_STEPS[2]}'
                AND e.ts > s2.t2
                AND e.ts <= s2.t1 + INTERVAL 7 DAY
              GROUP BY 1),
            counts AS (
              SELECT 1 AS step_idx, '{FUNNEL_STEPS[0]}' AS step,
                     (SELECT count(*) FROM s1) AS n_users
              UNION ALL
              SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
              UNION ALL
              SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3))
            SELECT step_idx, step, n_users,
                   round(n_users * 1.0 /
                         (SELECT n_users FROM counts WHERE step_idx = 1),
                         6) AS conversion
            FROM counts
        """,
        doc="Ordered signup→click→purchase funnel, 7-day entry budget",
        tags=("§2.11", "A"),
    ),
    "events_transition_matrix": QuerySpec(
        spark=events_transition_matrix,
        oracle="""
            WITH seq AS (
              SELECT user_id, event_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       AS next_type
              FROM events),
            trans AS (
              SELECT event_type AS from_type, next_type AS to_type
              FROM seq WHERE next_type IS NOT NULL),
            counts AS (
              SELECT from_type, to_type, count(*) AS n_transitions
              FROM trans GROUP BY 1, 2),
            tot AS (
              SELECT from_type,
                     CAST(sum(n_transitions) AS BIGINT) AS total
              FROM counts GROUP BY 1)
            SELECT c.from_type, c.to_type, c.n_transitions,
                   round(CAST(c.n_transitions AS DOUBLE) / t.total, 6)
                     AS p_transition
            FROM counts c JOIN tot t ON c.from_type = t.from_type
        """,
        doc="First-order Markov transition matrix over user streams",
        tags=("§2.11", "W"),
    ),
    "pareto_top_parts": QuerySpec(
        spark=pareto_top_parts,
        oracle=f"""
            WITH rev AS (
              SELECT l_partkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS revenue
              FROM lineitem GROUP BY 1),
            tot AS (
              SELECT round(sum(revenue), 4) AS total_revenue FROM rev),
            ranked AS (
              SELECT l_partkey, revenue,
                     row_number() OVER (ORDER BY revenue DESC,
                                        l_partkey) AS part_rank
              FROM rev),
            top AS (
              SELECT * FROM ranked WHERE part_rank <= {PARETO_K})
            SELECT CAST(t.part_rank AS INT) AS part_rank, t.l_partkey,
                   t.revenue,
                   round(sum(t.revenue) OVER (
                     ORDER BY t.part_rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     4) AS cum_revenue,
                   round(sum(t.revenue) OVER (
                     ORDER BY t.part_rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / tt.total_revenue, 6) AS cum_share
            FROM top t CROSS JOIN tot tt
        """,
        doc="Pareto top-100 parts: revenue + cumulative share of total",
        tags=("§2.11", "W"),
    ),
    "sketch_cms_user_counts": QuerySpec(
        spark=sketch_cms_user_counts,
        oracle=f"""
            WITH ev AS (
              SELECT user_id, CAST(user_id AS VARCHAR) AS item,
                     CAST(ts AS DATE) AS day
              FROM events WHERE user_id IS NOT NULL),
            rws AS (SELECT unnest(range({CMS_DEPTH})) AS row_idx),
            cells AS (
              SELECT day, row_idx,
                     ('0x' || substr(md5(CAST(row_idx AS VARCHAR)
                       || ':' || item), 1, 8))::BIGINT % {CMS_WIDTH}
                       AS bucket,
                     count(*) AS cnt
              FROM ev CROSS JOIN rws GROUP BY 1, 2, 3),
            merged AS (
              SELECT row_idx, bucket, sum(cnt) AS cnt FROM cells
              WHERE day >= DATE '{CMS_START}' AND day < DATE '{CMS_END}'
              GROUP BY 1, 2),
            exact AS (
              SELECT user_id, item, count(*) AS exact_count FROM ev
              WHERE day >= DATE '{CMS_START}' AND day < DATE '{CMS_END}'
              GROUP BY 1, 2),
            probes AS (
              SELECT e.user_id, e.exact_count, r.row_idx,
                     ('0x' || substr(md5(CAST(r.row_idx AS VARCHAR)
                       || ':' || e.item), 1, 8))::BIGINT % {CMS_WIDTH}
                       AS bucket
              FROM exact e CROSS JOIN rws r),
            est AS (
              SELECT user_id, exact_count,
                     min(coalesce(m.cnt, 0)) AS cms_estimate
              FROM probes p
              LEFT JOIN merged m USING (row_idx, bucket)
              GROUP BY 1, 2)
            SELECT user_id,
                   CAST(exact_count AS BIGINT) AS exact_count,
                   CAST(cms_estimate AS BIGINT) AS cms_estimate,
                   CAST(cms_estimate - exact_count AS BIGINT)
                     AS overestimate
            FROM est
        """,
        doc="Mergeable daily count-min rollup → range per-user counts",
        tags=("§2.11", "A"),
    ),
    "events_cohort_retention": QuerySpec(
        spark=events_cohort_retention,
        oracle="""
            WITH uw AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS week
              FROM events),
            coh AS (
              SELECT user_id, min(week) AS cohort_week
              FROM uw GROUP BY 1)
            SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
                   CAST(datediff('day', c.cohort_week, u.week) // 7
                        AS BIGINT) AS week_offset,
                   count(DISTINCT u.user_id) AS n_users
            FROM uw u JOIN coh c USING (user_id)
            GROUP BY 1, 2
        """,
        doc="Weekly cohort-retention triangle (first-active-week cohorts)",
        tags=("§2.11", "A"),
    ),
    "attribution_last_touch": QuerySpec(
        spark=attribution_last_touch,
        oracle=f"""
            WITH e AS (
              SELECT event_id, user_id, event_type, value,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS u_us
              FROM events),
            carried AS (
              SELECT *,
                     last_value(
                       CASE WHEN event_type <> 'purchase'
                            THEN struct_pack(t_us := u_us,
                                             t_type := event_type)
                       END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY u_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS touch
              FROM e),
            flagged AS (
              SELECT value, u_us,
                     touch.t_type AS touch_type,
                     touch.t_us AS t_us
              FROM carried WHERE event_type = 'purchase'),
            attributed AS (
              SELECT CASE WHEN t_us IS NOT NULL
                            AND u_us - t_us <= {ATTR_WINDOW_S}::BIGINT
                                               * 1000000
                          THEN touch_type ELSE '(none)' END AS touch_type,
                     value, u_us - t_us AS lag_us
              FROM flagged)
            SELECT touch_type,
                   count(*) AS n_purchases,
                   round(sum(value), 4) AS attributed_value,
                   round(avg(CASE WHEN touch_type <> '(none)'
                                  THEN lag_us / 60000000.0e0 END), 6)
                     AS avg_minutes_to_convert
            FROM attributed GROUP BY touch_type
        """,
        doc="Last-touch purchase attribution by channel (7-day budget)",
        tags=("§2.11", "W", "A"),
    ),
    "orders_mom_revenue": QuerySpec(
        spark=orders_mom_revenue,
        oracle="""
            WITH monthly AS (
              SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                       AS month,
                     count(*) AS n_orders,
                     round(sum(o_totalprice), 4) AS revenue
              FROM orders GROUP BY 1)
            SELECT month, n_orders, revenue,
                   round(revenue - lag(revenue) OVER (ORDER BY month), 4)
                     AS mom_delta,
                   round((revenue - lag(revenue) OVER (ORDER BY month))
                         / lag(revenue) OVER (ORDER BY month) * 100.0e0,
                         6) AS mom_pct
            FROM monthly
        """,
        doc="Month-over-month revenue deltas (rollup-scale lag window)",
        tags=("§2.11", "W", "A"),
    ),
    "order_fulfillment_latency": QuerySpec(
        spark=order_fulfillment_latency,
        oracle=f"""
            WITH shipped AS (
              SELECT l_orderkey,
                     max(CAST(l_shipdate AS DATE)) AS last_ship
              FROM lineitem GROUP BY 1),
            lat AS (
              SELECT datediff('day', CAST(o_orderdate AS DATE), last_ship)
                       AS days,
                     o_totalprice
              FROM orders JOIN shipped ON l_orderkey = o_orderkey)
            SELECT CASE WHEN days <= {FULFILL_BANDS[0]} THEN 'a_week'
                        WHEN days <= {FULFILL_BANDS[1]} THEN 'b_month'
                        WHEN days <= {FULFILL_BANDS[2]} THEN 'c_quarter'
                        ELSE 'd_longer' END AS latency_band,
                   count(*) AS n_orders,
                   min(days) AS min_days,
                   max(days) AS max_days,
                   round(avg(o_totalprice), 6) AS avg_order_value
            FROM lat GROUP BY 1
        """,
        doc="Order→last-shipment latency bands with order-value stats",
        tags=("§2.11", "J", "A"),
    ),
    "graph_pagerank_parts": QuerySpec(
        spark=graph_pagerank_parts,
        # The oracle unrolls the 3 iterations as chained CTEs with the
        # SAME per-iteration 1e-9 rounding, so both engines feed
        # bit-identical ranks into each round; literals are spelled so
        # the IEEE op sequence matches the Spark side exactly
        # ((1.0-0.85)/n, not a pre-folded 0.15).
        oracle=f"""
            WITH e0 AS (
              SELECT DISTINCT
                     'p:' || CAST(l_partkey AS VARCHAR) AS src,
                     's:' || CAST(l_suppkey AS VARCHAR) AS dst
              FROM lineitem),
            und AS (
              SELECT src, dst FROM e0
              UNION
              SELECT dst, src FROM e0),
            deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
            nv AS (SELECT count(DISTINCT src) AS n FROM und),
            r0 AS (
              SELECT DISTINCT src AS node,
                     round(1.0e0 / (SELECT n FROM nv), 9) AS rank
              FROM und),
            r1 AS (
              SELECT u.dst AS node,
                     round((1.0e0 - {PAGERANK_DAMPING}e0)
                             / (SELECT n FROM nv)
                           + {PAGERANK_DAMPING}e0
                             * sum(r.rank / d.deg), 9) AS rank
              FROM und u
              JOIN deg d USING (src)
              JOIN r0 r ON r.node = u.src
              GROUP BY 1),
            r2 AS (
              SELECT u.dst AS node,
                     round((1.0e0 - {PAGERANK_DAMPING}e0)
                             / (SELECT n FROM nv)
                           + {PAGERANK_DAMPING}e0
                             * sum(r.rank / d.deg), 9) AS rank
              FROM und u
              JOIN deg d USING (src)
              JOIN r1 r ON r.node = u.src
              GROUP BY 1),
            r3 AS (
              SELECT u.dst AS node,
                     round((1.0e0 - {PAGERANK_DAMPING}e0)
                             / (SELECT n FROM nv)
                           + {PAGERANK_DAMPING}e0
                             * sum(r.rank / d.deg), 9) AS rank
              FROM und u
              JOIN deg d USING (src)
              JOIN r2 r ON r.node = u.src
              GROUP BY 1)
            SELECT node, round(rank, 6) AS rank FROM r3
            ORDER BY rank DESC, node LIMIT {PAGERANK_TOP}
        """,
        doc="3-iteration PageRank over the part↔supplier supply graph",
        tags=("§2.11", "J"),
    ),
    "basket_part_pairs": QuerySpec(
        spark=basket_part_pairs,
        oracle=f"""
            WITH items AS (
              SELECT DISTINCT l_orderkey AS okey, l_partkey AS p
              FROM lineitem),
            nv AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
            pairs AS (
              SELECT a.p AS p1, b.p AS p2, count(*) AS pair_cnt
              FROM items a JOIN items b USING (okey)
              WHERE a.p < b.p
              GROUP BY 1, 2
              HAVING count(*) >= {BASKET_MIN_PAIR}),
            freq AS (SELECT p, count(*) AS cnt FROM items GROUP BY 1)
            SELECT p1, p2, pair_cnt,
                   round(pair_cnt / (SELECT n_orders FROM nv), 6)
                     AS support,
                   round(pair_cnt / f1.cnt, 6) AS confidence,
                   round(pair_cnt * (SELECT n_orders FROM nv)
                         / (f1.cnt * f2.cnt), 6) AS lift
            FROM pairs
            JOIN freq f1 ON f1.p = pairs.p1
            JOIN freq f2 ON f2.p = pairs.p2
            ORDER BY lift DESC, p1, p2 LIMIT {BASKET_TOP}
        """,
        doc="Market-basket support/confidence/lift over order baskets",
        tags=("§2.11", "J", "A"),
    ),
    "user_rfm_segments": QuerySpec(
        spark=user_rfm_segments,
        oracle="""
            WITH p AS (
              SELECT user_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
              FROM events WHERE event_type = 'purchase'),
            ref AS (SELECT max(ts_us) AS ref_us FROM p),
            pu AS (
              SELECT user_id,
                     CAST(floor(((SELECT ref_us FROM ref) - max(ts_us))
                                / 86400000000) AS BIGINT) AS recency_days,
                     count(*) AS frequency,
                     CAST(floor(round(sum(value), 6)) AS BIGINT)
                       AS monetary_band
              FROM p GROUP BY 1),
            rc AS (SELECT recency_days AS v, count(*) AS cnt
                   FROM pu GROUP BY 1),
            rt AS (SELECT v, CAST(1 + floor(
                     (sum(cnt) OVER (ORDER BY v ASC) - 1) * 5
                     / sum(cnt) OVER ()) AS INT) AS r_tile FROM rc),
            fc AS (SELECT frequency AS v, count(*) AS cnt
                   FROM pu GROUP BY 1),
            ft AS (SELECT v, CAST(1 + floor(
                     (sum(cnt) OVER (ORDER BY v DESC) - 1) * 5
                     / sum(cnt) OVER ()) AS INT) AS f_tile FROM fc),
            mc AS (SELECT monetary_band AS v, count(*) AS cnt
                   FROM pu GROUP BY 1),
            mt AS (SELECT v, CAST(1 + floor(
                     (sum(cnt) OVER (ORDER BY v DESC) - 1) * 5
                     / sum(cnt) OVER ()) AS INT) AS m_tile FROM mc)
            SELECT r_tile, f_tile, m_tile,
                   count(*) AS n_users,
                   round(avg(frequency), 6) AS avg_frequency,
                   round(avg(monetary_band), 6) AS avg_monetary_band
            FROM pu
            JOIN rt ON rt.v = pu.recency_days
            JOIN ft ON ft.v = pu.frequency
            JOIN mt ON mt.v = pu.monetary_band
            GROUP BY 1, 2, 3
        """,
        doc="RFM quintile segmentation (value-cohesive, window-free on users)",
        tags=("§2.11", "A", "W"),
    ),
}
