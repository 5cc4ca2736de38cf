"""Hand-computed unit tests for the round-7 second batch: interval
coverage (gaps-and-islands), PageRank, market-basket rules, the
value-cohesive quantile tiler, Benford digit extraction, and session
paths. Oracle parity on the fixture tables is covered separately by
tests/test_oracle_parity.py."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from solana_etl_pipeline_spark.operators.graph import pagerank
from solana_etl_pipeline_spark.operators.intervals import interval_coverage


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------- intervals


def test_interval_coverage_merges_overlaps_and_touching(spark):
    # user 1: 10:00 and 10:20 overlap (30-min hold); 12:00 is separate.
    # user 2: 10:00 then 10:30 — touching (end == next start) merges.
    rows = [
        (1, _ts("2024-01-01T10:00:00")),
        (1, _ts("2024-01-01T10:20:00")),
        (1, _ts("2024-01-01T12:00:00")),
        (2, _ts("2024-01-01T10:00:00")),
        (2, _ts("2024-01-01T10:30:00")),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        r.key: r
        for r in interval_coverage(
            df, "user_id", "ts", hold_seconds=1800
        ).collect()
    }
    # user 1: island [10:00, 10:50) = 50 min, island [12:00, 12:30) = 30
    assert out[1].n_islands == 2
    assert out[1].covered_sec == 50 * 60 + 30 * 60
    assert out[1].n_events == 3
    # user 2: one merged island [10:00, 11:00) = 60 min
    assert out[2].n_islands == 1
    assert out[2].covered_sec == 3600
    assert out[2].n_events == 2


def test_interval_coverage_out_of_order_and_contained(spark):
    # An interval fully contained in an earlier one must not reopen the
    # island, and input order must not matter (the sweep sorts).
    rows = [
        (1, _ts("2024-01-01T10:05:00")),  # contained in [10:00, 10:30)
        (1, _ts("2024-01-01T10:00:00")),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    row = interval_coverage(df, "user_id", "ts", hold_seconds=1800).collect()[0]
    assert row.n_islands == 1
    assert row.covered_sec == 35 * 60  # [10:00, 10:35)


# ---------------------------------------------------------------- pagerank


def test_pagerank_star_graph_hand_computed(spark):
    # Undirected star: hub h — leaves a, b, c. N=4, d=0.85, 1 iteration
    # from uniform 0.25: hub gets (1-d)/4 + d*(3 * 0.25/1); each leaf
    # gets (1-d)/4 + d*(0.25/3).
    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c")], ["src", "dst"]
    )
    ranks = {
        r.node: r.rank
        for r in pagerank(edges, damping=0.85, n_iter=1).collect()
    }
    assert abs(ranks["h"] - (0.15 / 4 + 0.85 * 0.75)) < 1e-8
    for leaf in "abc":
        assert abs(ranks[leaf] - (0.15 / 4 + 0.85 * 0.25 / 3)) < 1e-8


def test_pagerank_mass_conserved_and_symmetry(spark):
    # Undirected connected graph, no dangling: total mass stays 1 per
    # iteration (up to the 1e-9 per-iteration rounding); symmetric
    # nodes rank equally; the hub outranks leaves.
    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c"), ("a", "b")], ["src", "dst"]
    )
    rows = pagerank(edges, n_iter=3).collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-6
    ranks = {r.node: r.rank for r in rows}
    assert ranks["a"] == ranks["b"]  # symmetric by construction
    assert ranks["h"] > ranks["a"] > ranks["c"]


def test_pagerank_dedups_parallel_edges(spark):
    # Duplicate input edges must not inflate degree or contribution.
    once = spark.createDataFrame([("x", "y")], ["src", "dst"])
    twice = spark.createDataFrame(
        [("x", "y"), ("x", "y")], ["src", "dst"]
    )
    r1 = {r.node: r.rank for r in pagerank(once, n_iter=2).collect()}
    r2 = {r.node: r.rank for r in pagerank(twice, n_iter=2).collect()}
    assert r1 == r2


def test_pagerank_broadcast_ranks_pins_one_edge_copy(spark):
    # broadcast_ranks=True materializes the symmetrized edge set once
    # before the degree join; once the degree-carrying copy is
    # checkpointed, that first copy must be released, so the run keeps
    # the same persisted RDDs as broadcast_ranks=False. Counted right
    # after pagerank returns: the result still reaches every RDD it
    # needs, so only an unreleased copy can differ.
    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c"), ("a", "b"), ("c", "d")],
        ["src", "dst"],
    )
    jsc = spark.sparkContext._jsc

    def run(broadcast_ranks):
        before = set(jsc.getPersistentRDDs().keySet())
        ranks = pagerank(edges, n_iter=2, broadcast_ranks=broadcast_ranks)
        new = set(jsc.getPersistentRDDs().keySet()) - before
        rows = {r.node: r.rank for r in ranks.collect()}
        for rdd_id in new:
            rdd = jsc.getPersistentRDDs().get(rdd_id)
            if rdd is not None:
                rdd.unpersist(True)
        return len(new), rows

    shuffled, ranks_shuffled = run(False)
    broadcast, ranks_broadcast = run(True)
    assert ranks_broadcast == ranks_shuffled
    assert broadcast == shuffled


# ------------------------------------------------------------------ basket


def test_basket_lift_hand_computed(spark, tmp_path, monkeypatch):
    # 4 orders: {1,2} {1,2} {1,3} {2,3} → pair (1,2) in 2 baskets.
    # c1 = 3 orders with part 1, c2 = 3 with part 2, N = 4:
    # support = 2/4, confidence = 2/3, lift = 2*4/(3*3) = 8/9.
    import solana_etl_pipeline_spark.queries.analytics as mod

    li = spark.createDataFrame(
        [
            (10, 1), (10, 2),
            (11, 1), (11, 2),
            (12, 1), (12, 3),
            (13, 2), (13, 3),
        ],
        ["l_orderkey", "l_partkey"],
    )
    monkeypatch.setattr(
        mod, "load_table", lambda spark_, sf_, name: li
    )
    out = {
        (r.p1, r.p2): r
        for r in mod.basket_part_pairs(spark, "unused").collect()
    }
    r = out[(1, 2)]
    assert r.pair_cnt == 2
    assert abs(r.support - 0.5) < 1e-9
    assert abs(r.confidence - round(2 / 3, 6)) < 1e-9
    assert abs(r.lift - round(8 / 9, 6)) < 1e-9
    # (1,3) and (2,3) co-occur once each — below min support 2
    assert (1, 3) not in out and (2, 3) not in out


# ------------------------------------------------------------------- tiles


def test_value_quantile_tiles_cohesion_and_split(spark):
    from solana_etl_pipeline_spark.queries.analytics import (
        _value_quantile_tiles,
    )

    # 10 rows over values 1..10 → quintiles of 2; ties stay together.
    df = spark.createDataFrame(
        [(i, (i + 1) // 2) for i in range(1, 11)], ["user_id", "v"]
    )
    out = {
        r.user_id: r.t
        for r in _value_quantile_tiles(df, "v", "t", ascending=True).collect()
    }
    # values 1,1,2,2,...,5,5 ascending → tile = value
    for uid, tile in out.items():
        assert tile == (uid + 1) // 2
    # a dominant tie block lands entirely in the tile of its LAST rank
    df2 = spark.createDataFrame(
        [(i, 7) for i in range(6)] + [(10, 1), (11, 2), (12, 3), (13, 4)],
        ["user_id", "v"],
    )
    tiles2 = {
        r.user_id: r.t
        for r in _value_quantile_tiles(
            df2, "v", "t", ascending=True
        ).collect()
    }
    block = {tiles2[i] for i in range(6)}
    assert len(block) == 1  # cohesion: equal value → equal tile


# ----------------------------------------------------------------- benford


def test_benford_digit_extraction_edges(spark, monkeypatch):
    import solana_etl_pipeline_spark.queries.quality as mod

    li = spark.createDataFrame(
        [(0.99,), (100.00,), (9999.99,), (1.00,), (55.5,)],
        ["l_extendedprice"],
    )
    monkeypatch.setattr(mod, "load_table", lambda s, d, n: li)
    out = {r.digit: r for r in mod.data_benford_digits(spark, "x").collect()}
    assert out[9].n == 2  # 0.99 → 99 cents; 9999.99 → first digit 9
    assert out[1].n == 2  # 100.00 and 1.00 both lead with 1
    assert out[5].n == 1  # 55.5 → 5550 cents
    # shares sum to 1 and chi contributions are non-negative
    assert abs(sum(r.obs_share for r in out.values()) - 1.0) < 1e-5
    assert all(r.chi_contrib >= 0 for r in out.values())


# ------------------------------------------------------------------- paths


def test_session_paths_hand_built(spark, monkeypatch):
    import solana_etl_pipeline_spark.queries.windows as mod

    base = _ts("2024-01-01T10:00:00")

    def ev(eid, uid, minutes, et):
        return (eid, uid, base + dt.timedelta(minutes=minutes), et, 1.0)

    rows = [
        # user 1 session 1: A > B > C > D (only first 3 kept)
        ev(1, 1, 0, "A"), ev(2, 1, 1, "B"), ev(3, 1, 2, "C"), ev(4, 1, 3, "D"),
        # user 1 session 2 (gap > 30 min): A > B
        ev(5, 1, 60, "A"), ev(6, 1, 61, "B"),
        # user 2: single session A > B
        ev(7, 2, 0, "A"), ev(8, 2, 5, "B"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    monkeypatch.setattr(mod, "load_table", lambda s, d, n: df)
    out = {r.path: r.n_sessions for r in mod.session_paths_topk(spark, "x").collect()}
    assert out == {"A>B>C": 1, "A>B": 2}
