"""Unit tests for the gap-fill/LOCF resample, the time-weighted
average, and the CDC merge-apply operator (hand-built fixtures; the
oracle-parity gate covers the fixture-table queries)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from solana_etl_pipeline_spark.operators.cdc import apply_changes
from solana_etl_pipeline_spark.queries.timeseries import (
    events_gapfill_locf,
    events_time_weighted_avg,
)

T0 = dt.datetime(2024, 3, 1, 10, 0, 0)


def _events_dir(tmp_path_factory, rows) -> str:
    """Write a tiny events.parquet (us timestamps) the query loaders read."""
    out = tmp_path_factory.mktemp("mini_sf")
    table = pa.Table.from_pylist(
        [
            {
                "event_id": eid,
                "ts": ts,
                "user_id": uid,
                "event_type": etype,
                "value": value,
                "props": "{}",
            }
            for (eid, ts, uid, etype, value) in rows
        ],
        schema=pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )
    pq.write_table(table, out / "events.parquet")
    return str(out)


@pytest.fixture(scope="module")
def gapfill_dir(tmp_path_factory) -> str:
    rows = [
        # type a: observed hours 10 and 13 -> gaps at 11 and 12
        (1, T0, 1, "a", 300.0),
        (2, T0 + dt.timedelta(hours=3), 1, "a", 220.0),
        # below the >=200 filter: must NOT extend the spine to hour 20
        (3, T0 + dt.timedelta(hours=10), 1, "a", 50.0),
        # type b: a single observed hour -> one-row spine, no gap
        (4, T0 + dt.timedelta(hours=1), 2, "b", 250.0),
        # two obs in one hour average before the fill
        (5, T0 + dt.timedelta(minutes=10), 3, "a", 400.0),
    ]
    return _events_dir(tmp_path_factory, rows)


def test_gapfill_spine_gaps_and_locf(spark, gapfill_dir):
    out = {
        (r.event_type, r.hour): r
        for r in events_gapfill_locf(spark, gapfill_dir).collect()
    }
    # spine: 4 hourly rows for a (10..13), 1 for b; low-value hour 20 absent
    assert len(out) == 5
    a10 = out[("a", "2024-03-01 10:00:00")]
    assert (a10.n_events, a10.avg_value, a10.is_gap) == (2, 350.0, False)
    for hour in ("2024-03-01 11:00:00", "2024-03-01 12:00:00"):
        gap = out[("a", hour)]
        assert (gap.n_events, gap.avg_value, gap.is_gap) == (0, None, True)
        assert gap.filled_value == 350.0  # carried from hour 10
    a13 = out[("a", "2024-03-01 13:00:00")]
    assert (a13.is_gap, a13.filled_value) == (False, 220.0)
    b11 = out[("b", "2024-03-01 11:00:00")]
    assert (b11.n_events, b11.is_gap, b11.filled_value) == (1, False, 250.0)


def test_gapfill_fixture_invariants(spark, sf_dir):
    rows = events_gapfill_locf(spark, sf_dir).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        assert (r.n_events == 0) == r.is_gap
        assert (r.avg_value is None) == r.is_gap
        assert r.filled_value is not None  # spine starts at an observation
        by_type.setdefault(r.event_type, []).append(r)
    for recs in by_type.values():
        recs.sort(key=lambda r: r.hour)
        assert not recs[0].is_gap and not recs[-1].is_gap
        first = dt.datetime.fromisoformat(recs[0].hour)
        last = dt.datetime.fromisoformat(recs[-1].hour)
        # contiguous hourly spine, no holes and no duplicates
        assert len(recs) == int((last - first).total_seconds()) // 3600 + 1


@pytest.fixture(scope="module")
def twa_dir(tmp_path_factory) -> str:
    rows = [
        # user 1 / type t: 10 for 1h, then 20 for 30min, last excluded
        (1, T0, 1, "t", 10.0),
        (2, T0 + dt.timedelta(hours=1), 1, "t", 20.0),
        (3, T0 + dt.timedelta(hours=1, minutes=30), 1, "t", 999.0),
        # user 2 / type t: 40 for 15min, last excluded
        (4, T0, 2, "t", 40.0),
        (5, T0 + dt.timedelta(minutes=15), 2, "t", 999.0),
        # user 3 / type u: same-ts tie -> zero-length first segment
        (6, T0, 3, "u", 100.0),
        (7, T0, 3, "u", 200.0),
        (8, T0 + dt.timedelta(seconds=100), 3, "u", 999.0),
    ]
    return _events_dir(tmp_path_factory, rows)


def test_twa_hand_computed(spark, twa_dir):
    out = {
        r.event_type: r
        for r in events_time_weighted_avg(spark, twa_dir).collect()
    }
    t = out["t"]
    # (10*3600 + 20*1800 + 40*900) / (3600 + 1800 + 900)
    assert t.n_segments == 3
    assert t.twa_value == round(108000.0 / 6300.0, 6)
    assert t.plain_avg_value == round(70.0 / 3.0, 6)
    assert t.total_hours == 1.75
    u = out["u"]
    # zero-dt tie segment carries no weight; only 200-for-100s counts
    assert u.n_segments == 2
    assert u.twa_value == 200.0
    assert u.plain_avg_value == 150.0


def test_twa_burst_does_not_overcount(spark, tmp_path_factory):
    # a 10-event burst of value 500 within one second, then 1.0 held
    # for an hour: the plain mean is dominated by the burst, the TWA
    # by the hold — the reason irregular telemetry needs time weights.
    rows = [
        (i, T0 + dt.timedelta(milliseconds=100 * i), 1, "t", 500.0)
        for i in range(10)
    ]
    rows.append((10, T0 + dt.timedelta(seconds=1), 1, "t", 1.0))
    rows.append((11, T0 + dt.timedelta(seconds=3601), 1, "t", 999.0))
    out = events_time_weighted_avg(
        spark, _events_dir(tmp_path_factory, rows)
    ).collect()[0]
    assert out.plain_avg_value > 400.0
    assert out.twa_value < 2.0


# ---------------------------------------------------------------- CDC


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40),
         (5, "e", 50)],
        ["id", "txt", "n"],
    )


def test_cdc_apply_change_matrix(spark):
    base = _base(spark)
    changes = spark.createDataFrame(
        [
            (6, "upsert", 1, "f", 60),   # insert new key
            (2, "upsert", 1, "B", 21),   # update existing
            (3, "delete", 1, None, None),  # delete
            (4, "upsert", 1, "D", 41),   # update...
            (4, "delete", 2, None, None),  # ...then delete: gone
            (5, "delete", 1, None, None),  # delete...
            (5, "upsert", 2, "E", 51),   # ...then re-upsert: survives
            (7, "delete", 1, None, None),  # delete of absent key: no-op
        ],
        ["id", "op", "seq", "txt", "n"],
    )
    out = {r.id: r for r in apply_changes(base, changes, key="id").collect()}
    assert set(out) == {1, 2, 5, 6}
    assert (out[1].txt, out[1].n) == ("a", 10)     # untouched
    assert (out[2].txt, out[2].n) == ("B", 21)     # latest upsert
    assert (out[5].txt, out[5].n) == ("E", 51)     # delete then upsert
    assert (out[6].txt, out[6].n) == ("f", 60)     # insert


def test_cdc_apply_empty_feed_is_identity(spark):
    base = _base(spark)
    empty = spark.createDataFrame(
        [], "id bigint, op string, seq bigint, txt string, n bigint"
    )
    got = {r.id: (r.txt, r.n) for r in apply_changes(base, empty, "id").collect()}
    want = {r.id: (r.txt, r.n) for r in base.collect()}
    assert got == want


def test_cdc_apply_windowless_plan(spark):
    """Scale pin: latest-wins collapses via max_by hash agg — no
    window sort funnels a hot key's change history through one task."""
    base = _base(spark)
    changes = spark.createDataFrame(
        [(2, "upsert", 1, "B", 21)], ["id", "op", "seq", "txt", "n"]
    )
    plan = (
        apply_changes(base, changes, "id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan


def test_streaming_cdc_foreach_batch_upsert(spark, tmp_path):
    """The CDC operator driven from a STREAM: a change feed lands as
    JSON files; each micro-batch folds into the keyed snapshot via
    apply_changes inside foreachBatch, writing a new snapshot version
    keyed by batch_id (idempotent under checkpoint replay). The
    reference's only refresh path is a full rebuild
    (clean_data.py:292-365); this is the incremental replacement."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from solana_etl_pipeline_spark.operators.cdc import apply_changes
    from solana_etl_pipeline_spark.streaming.ingest import landing_stream

    feed_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base_dir = str(tmp_path / "snap" / "v=0")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    ).write.parquet(base_dir)

    landing = tmp_path / "feed"
    landing.mkdir()
    now = _time.time()

    def land(name, rows, mtime):
        p = str(landing / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    land(
        "c1.json",
        [
            {"doc_id": 2, "seq": 1, "op": "upsert", "text": "b2"},
            {"doc_id": 3, "seq": 2, "op": "delete", "text": None},
            {"doc_id": 4, "seq": 3, "op": "upsert", "text": "d"},
        ],
        now - 20,
    )
    land(
        "c2.json",
        [
            {"doc_id": 4, "seq": 4, "op": "delete", "text": None},
            {"doc_id": 3, "seq": 5, "op": "upsert", "text": "c2"},
        ],
        now - 10,
    )

    snap_root = str(tmp_path / "snap")
    state = {"version": 0}

    def upsert(batch_df, batch_id):
        # idempotent on batch_id: the output version dir is a pure
        # function of it; a replayed batch overwrites the same dir
        cur = spark.read.parquet(f"{snap_root}/v={state['version']}")
        nxt = apply_changes(cur, batch_df, key="doc_id")
        nxt.write.mode("overwrite").parquet(f"{snap_root}/v={batch_id + 1}")
        state["version"] = batch_id + 1

    def drain():
        stream = landing_stream(
            spark, str(landing), feed_schema, max_files_per_trigger=1
        )
        query = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert query.awaitTermination(300)

    drain()
    final = {
        r.doc_id: r.text
        for r in spark.read.parquet(
            f"{snap_root}/v={state['version']}"
        ).collect()
    }
    # doc2 updated, doc3 deleted-then-reupserted, doc4 inserted-then-
    # deleted, doc1 untouched
    assert final == {1: "a", 2: "b2", 3: "c2"}

    # checkpoint replay: a second drain sees no new files and leaves
    # the snapshot version untouched
    v_before = state["version"]
    drain()
    assert state["version"] == v_before


def test_apply_changes_rejects_unknown_op(spark):
    """Review r15: a typo'd/unknown op code must fail loud, not
    silently delete the key (the anti-join removes it from base and
    the upsert filter used to drop it too)."""
    import pytest
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    changes = spark.createDataFrame(
        [Row(k=1, op="update", seq=1, v="a2")]  # not a valid op code
    )
    with pytest.raises(Exception, match="unknown op code: update"):
        apply_changes(base, changes, key="k").collect()
    # null op fails loud too
    changes2 = spark.createDataFrame(
        [(2, None, 1, "b2")], "k bigint, op string, seq bigint, v string"
    )
    with pytest.raises(Exception, match="unknown op code"):
        apply_changes(base, changes2, key="k").collect()
