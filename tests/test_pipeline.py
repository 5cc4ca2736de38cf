"""Bronze→silver pipeline tests: the silver chain drained end to end,
its dedup, its refusal of batch input, and schema harmonization on
append.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.pipelines.bronze_silver import (
    build_silver,
    read_silver,
)
from solana_etl_pipeline_spark.schemas import CLEANED_TRANSACTIONS
from solana_etl_pipeline_spark.sources.sinks import (
    read_parquet_merged,
    write_parquet,
)
from solana_etl_pipeline_spark.streaming.ingest import (
    run_available_now_to_parquet,
)
from tests.conftest import drain_silver, dropped_duplicates, silver_stream

WRAPPED = json.dumps(
    {
        "metadata": {"token_name": "Tok", "token_symbol": "TK", "mint": "mintX"},
        "transactions": [
            {
                "signature": "sig1",
                "timestamp": 1700000000,
                "tokenTransfers": [
                    {"fromUserAccount": "a", "toUserAccount": "b",
                     "tokenAmount": 1.0, "mint": "mintX",
                     "tokenStandard": "Fungible"}
                ],
            },
            {  # duplicate signature for the same mint -> dedup victim
                "signature": "sig1",
                "timestamp": 1700000300,
                "tokenTransfers": [
                    {"fromUserAccount": "a2", "toUserAccount": "b2",
                     "tokenAmount": 2.0, "mint": "mintX",
                     "tokenStandard": "Fungible"}
                ],
            },
            {
                "signature": "sig2",
                "timestamp": 1700090000,  # next day
                "tokenTransfers": [
                    {"fromUserAccount": "c", "toUserAccount": "d",
                     "tokenAmount": 3.0, "mint": "mintX",
                     "tokenStandard": "Fungible"}
                ],
            },
        ],
    }
)

WS_MSG = json.dumps(
    {"mint": "mintW", "txType": "create", "solAmount": 0.5,
     "name": "W", "symbol": "WS"}
)


def test_build_silver_merges_and_dedups(spark, tmp_path):
    silver = read_silver(
        spark, drain_silver(spark, tmp_path, helius=[WRAPPED], ws=[WS_MSG]))
    rows = silver.collect()
    assert len(rows) == 3  # sig1 kept once, sig2, websocket row
    sigs = sorted(r.signature for r in rows)
    assert sigs[:2] == ["sig1", "sig2"]
    # websocket rows carry a content-derived signature so the
    # (mint, signature) dedup cannot collapse distinct ws events
    assert sigs[2].startswith("ws:") and len(sigs[2]) == 3 + 64
    # the websocket row keeps its null ts: the chain's fixed event time
    # is dropped after the dedup
    assert [r.ts for r in rows if r.source == "websocket"] == [None]
    assert spark.read.parquet(str(tmp_path / "silver")).columns == (
        CLEANED_TRANSACTIONS.fieldNames())


def test_build_silver_refuses_batch_frames(spark):
    """The chain is streaming only: over batch frames the first action
    fails, so no silent batch fallback can creep back in."""
    silver = build_silver(
        spark.createDataFrame([Row(raw=WRAPPED)]),
        spark.createDataFrame([Row(raw=WS_MSG)]),
    )
    with pytest.raises(AnalysisException, match="dropDuplicatesWithinWatermark"):
        silver.collect()


def test_perfbench_chain_is_the_package_chain(spark, tmp_path):
    """Drift guard: the benchmark's ``silver_stream`` builds the same
    analyzed plan as ``build_silver`` over feeds built the same way,
    watermark delay and websocket event time included. Expression ids
    and the watermark node's id differ per build and are stripped. The
    benchmark change that makes ``silver_stream`` call
    ``build_silver`` deletes this test, the only one that imports
    ``perfbench/ingest.py``."""
    sys.path.insert(0, str(Path(__file__).parents[1] / "perfbench"))
    try:
        import ingest
    finally:
        sys.path.pop(0)
    landing = str(tmp_path / "landing")
    ours = silver_stream(spark, landing, ingest.HELIUS_PER_BATCH,
                         ingest.WS_PER_BATCH)

    def plan(df) -> str:
        text = df._jdf.queryExecution().analyzed().toString()
        text = re.sub(r"EventTimeWatermark [0-9a-f-]{36}",
                      "EventTimeWatermark", text)
        return re.sub(r"#\d+", "", text)

    theirs = plan(ingest.silver_stream(spark, landing))
    assert plan(ours) == theirs
    assert "3650 days" in theirs and "2024-03-01 00:00:00" in theirs


def test_parquet_append_schema_harmonize(spark, tmp_path):
    """S10/U2: appending files with different columns merges on read;
    missing columns come back null (clean_data.py:340-349)."""
    out = str(tmp_path / "t")
    df1 = spark.createDataFrame([Row(a=1, b="x")])
    df2 = spark.createDataFrame([Row(a=2, c=9.5)])
    write_parquet(df1, out, mode="append")
    write_parquet(df2, out, mode="append")
    back = read_parquet_merged(spark, out)
    assert set(back.columns) == {"a", "b", "c"}
    rows = {r.a: r for r in back.collect()}
    assert rows[1].b == "x" and rows[1].c is None
    assert rows[2].b is None and rows[2].c == 9.5


def test_grouped_map_matches_native_risk(spark, sf_dir):
    """D2 parity: applyInPandas risk scores == native aggregate."""
    from solana_etl_pipeline_spark.functions.jsonf import json_str
    from solana_etl_pipeline_spark.operators.enrich import risk_scores_grouped_map
    from solana_etl_pipeline_spark.operators.risk import risk_scores
    from solana_etl_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "holder", json_str(F.col("props"), "$.k")
    )
    native = risk_scores(
        ev, key="user_id", holder_col="holder", buyer_col="holder",
        buy_type_col="event_type", buy_type_value="purchase",
        excluded_keys=[0, 1],
    )
    grouped = risk_scores_grouped_map(
        ev.filter(~F.col("user_id").isin([0, 1]))
    )
    n = {r.user_id: r for r in native.collect()}
    g = {r.user_id: r for r in grouped.collect()}
    assert set(n) == set(g)
    for uid in n:
        assert n[uid].unique_holders == g[uid].unique_holders
        assert abs(n[uid].safety_score - g[uid].safety_score) < 1e-9


def test_broadcast_enrich_defaults(spark):
    from solana_etl_pipeline_spark.operators.enrich import broadcast_enrich

    facts = spark.createDataFrame([Row(mint="a"), Row(mint="b")])
    dim = spark.createDataFrame([Row(mint="a", token_name="Alpha")])
    out = {r.mint: r.token_name for r in
           broadcast_enrich(facts, dim, "mint", "token_name").collect()}
    assert out == {"a": "Alpha", "b": "Unknown"}


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(root, name)
        for root, _, names in os.walk(path)
        for name in names
        if name.endswith(".parquet")
    )


def _file_bytes(directory) -> dict:
    return {f.name: f.read_bytes() for f in directory.iterdir()}


def test_compact_parquet_dir_reduces_files_keeps_rows(spark, tmp_path):
    """Small-files compaction: 32 tiny files -> few sized files, rows
    and values identical, and no temp or backup sibling
    (``.many.compact-<id>`` / ``.many.precompact-<id>``) left."""
    from solana_etl_pipeline_spark.sources.sinks import compact_parquet_dir

    out = str(tmp_path / "many")
    df = spark.range(0, 2000).withColumn("v", F.col("id") * 2)
    df.repartition(32).write.parquet(out)
    n_before = len(list((tmp_path / "many").glob("*.parquet")))
    assert n_before >= 32

    n_after = compact_parquet_dir(spark, out, target_file_bytes=1 << 30)
    assert n_after == 1
    back = spark.read.parquet(out)
    assert back.count() == 2000
    assert back.agg(F.sum("v")).collect()[0][0] == 2000 * 1999
    assert not list(tmp_path.glob(".many.*"))


def test_compact_parquet_dir_sorted_layout(spark, tmp_path):
    """sort_cols: range-partitioned + sorted-within-file layout, so
    per-file min/max on the sort key are disjoint (data skipping)."""
    from solana_etl_pipeline_spark.sources.sinks import compact_parquet_dir

    out = str(tmp_path / "sorted")
    spark.range(0, 10000).withColumn(
        "k", (F.col("id") * 7919) % 10000
    ).repartition(16).write.parquet(out)

    # tiny target to force >1 output file
    n_after = compact_parquet_dir(
        spark, out, target_file_bytes=16 * 1024, sort_cols=["k"]
    )
    assert n_after > 1
    import pyarrow.parquet as pq

    spans = []
    for f in sorted((tmp_path / "sorted").glob("*.parquet")):
        t = pq.read_table(f, columns=["k"])["k"].to_pylist()
        if t:
            spans.append((min(t), max(t)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint key ranges across files
    back = spark.read.parquet(out)
    assert back.count() == 10000


def test_compact_parquet_dir_preserves_partition_tree(spark, tmp_path):
    """Hive layouts compact leaf-by-leaf: partition dirs survive, each
    leaf is sized from its own bytes, values round-trip. Three inputs:
    a large target (one file per leaf); a small target (several files
    in every leaf, so no partition value is rewritten by one task);
    and the tree named by a ``file://`` URI, which the Hadoop
    FileSystem lists and renames like a plain path."""
    from solana_etl_pipeline_spark.sources.sinks import compact_parquet_dir

    def leaf_files(out) -> dict:
        return {
            d.name: list(d.glob("*.parquet")) for d in sorted(out.glob("p=*"))
        }

    def tree(name: str):
        out = tmp_path / name
        (
            spark.range(0, 20000)
            .withColumn("p", F.col("id") % 3)
            .withColumn("v", F.col("id") * 2)
            .repartition(8)
            .write.partitionBy("p")
            .parquet(str(out))
        )
        assert all(len(f) > 1 for f in leaf_files(out).values())
        return out

    def assert_round_trip(out):
        assert list(leaf_files(out)) == ["p=0", "p=1", "p=2"]
        assert not list(out.glob(".p=*"))
        back = spark.read.parquet(str(out))
        got = back.agg(F.count("*"), F.sum("v"), F.countDistinct("p")).first()
        assert tuple(got) == (20000, 20000 * 19999, 3)

    big = tree("big")
    assert compact_parquet_dir(spark, str(big), target_file_bytes=1 << 30) == 3
    assert all(len(f) == 1 for f in leaf_files(big).values())
    assert_round_trip(big)

    small = tree("small")
    n_small = compact_parquet_dir(
        spark, str(small), target_file_bytes=16 * 1024
    )
    per_leaf = [len(f) for f in leaf_files(small).values()]
    assert all(n > 1 for n in per_leaf), per_leaf
    assert n_small == sum(per_leaf)
    assert_round_trip(small)

    uri = tree("uri")
    assert uri.as_uri().startswith("file://")
    n_uri = compact_parquet_dir(
        spark, uri.as_uri(), target_file_bytes=1 << 30
    )
    assert n_uri == 3
    assert_round_trip(uri)

    # empty dir: no-op, returns 0
    empty = tmp_path / "empty"
    empty.mkdir()
    assert compact_parquet_dir(spark, str(empty)) == 0


def test_compact_parquet_dir_failed_rewrite_keeps_the_leaf(spark, tmp_path):
    """A leaf whose rewrite fails (a corrupt part file) raises, keeps
    its files byte-for-byte, and leaves no temp or backup sibling."""
    from solana_etl_pipeline_spark.sources.sinks import compact_parquet_dir

    out = tmp_path / "part"
    (
        spark.range(0, 1000)
        .withColumn("p", F.col("id") % 2)
        .repartition(4)
        .write.partitionBy("p")
        .parquet(str(out))
    )
    leaf = out / "p=1"
    (leaf / "part-99999-garbage.parquet").write_bytes(b"not a parquet file")
    before = _file_bytes(leaf)

    with pytest.raises(Exception, match="part-99999-garbage"):
        compact_parquet_dir(spark, str(out), target_file_bytes=1 << 30)
    assert _file_bytes(leaf) == before
    assert not list(out.glob(".p=*"))


def test_compact_parquet_dir_failed_swap_restores_the_leaf(
    spark, tmp_path, monkeypatch
):
    """When renaming the rewrite into place fails, the original
    directory is renamed back byte-for-byte and the rewrite is
    deleted."""
    from solana_etl_pipeline_spark.sources import sinks

    out = tmp_path / "flat"
    spark.range(0, 1000).repartition(4).write.parquet(str(out))
    before = _file_bytes(out)
    real_rename = sinks._rename

    def rename(fs, src, dst):
        if ".compact-" in src.getName():
            raise OSError("injected swap failure")
        real_rename(fs, src, dst)

    monkeypatch.setattr(sinks, "_rename", rename)
    with pytest.raises(OSError, match="injected swap failure"):
        sinks.compact_parquet_dir(spark, str(out), target_file_bytes=1 << 30)
    assert _file_bytes(out) == before
    assert not list(tmp_path.glob(".flat.*"))


def test_compact_parquet_dir_refuses_a_streaming_sink(spark, tmp_path):
    """A file sink's ``_spark_metadata`` log names every file it
    committed. Compacting its table outside the stream dropped the log,
    and every read after the stream's next commit then failed. The
    compaction now raises before writing, and the next drain reads
    every row."""
    from solana_etl_pipeline_spark.schemas import WEBSOCKET_MESSAGE
    from solana_etl_pipeline_spark.sources.sinks import compact_parquet_dir
    from solana_etl_pipeline_spark.streaming.ingest import (
        landing_stream,
        run_available_now_to_parquet,
    )
    from tests.test_live_socket import _msg

    landing = tmp_path / "landing"
    landing.mkdir()
    silver = str(tmp_path / "silver")

    def drain(name: str, ids: range) -> int:
        (landing / name).write_text(
            "".join(json.dumps(_msg(i)) + "\n" for i in ids)
        )
        # any file sink's table will do: the refusal reads only its log
        stream = landing_stream(
            spark, str(landing), WEBSOCKET_MESSAGE, max_files_per_trigger=None
        )
        run_available_now_to_parquet(stream, silver, str(tmp_path / "ckpt"))
        return spark.read.parquet(silver).count()

    assert drain("a.json", range(40)) == 40
    before = _parquet_files(silver)
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_parquet_dir(spark, silver, target_file_bytes=1 << 30)
    assert _parquet_files(silver) == before
    assert drain("b.json", range(40, 50)) == 50


def test_compact_parquet_dir_refuses_a_partitioned_sink_leaf(spark, tmp_path):
    """A leaf of a partitioned file sink (``silver/txType=buy``) holds
    no ``_spark_metadata`` of its own, but the table's log names its
    files too. Compacting the leaf raises before writing, and the next
    drain still reads every row."""
    from solana_etl_pipeline_spark.schemas import WEBSOCKET_MESSAGE
    from solana_etl_pipeline_spark.sources.sinks import compact_parquet_dir
    from solana_etl_pipeline_spark.streaming.ingest import landing_stream
    from tests.test_live_socket import _msg

    landing = tmp_path / "landing"
    landing.mkdir()
    silver = str(tmp_path / "silver")

    def drain(name: str, ids: range) -> int:
        (landing / name).write_text(
            "".join(json.dumps(_msg(i)) + "\n" for i in ids)
        )
        # not the silver chain: its drain writes no partition leaves
        stream = landing_stream(
            spark, str(landing), WEBSOCKET_MESSAGE, max_files_per_trigger=None
        )
        query = (
            stream.writeStream.format("parquet")
            .partitionBy("txType")
            .option("path", silver)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert query.awaitTermination(300)
        return spark.read.parquet(silver).count()

    assert drain("a.json", range(40)) == 40
    leaf = os.path.join(silver, "txType=buy")
    before = _parquet_files(leaf)
    assert before
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_parquet_dir(spark, leaf, target_file_bytes=1 << 30)
    assert _parquet_files(leaf) == before
    assert drain("b.json", range(40, 50)) == 50


def test_zorder_key_matches_python_interleave(spark):
    """The Morton key must equal the reference bit-interleave of the
    quantized coordinates."""
    from solana_etl_pipeline_spark.sources.sinks import zorder_key

    bits = 8
    df = spark.createDataFrame(
        [(x, y) for x in (0, 3, 7, 255) for y in (0, 1, 128, 255)],
        "x int, y int",
    )
    out = df.select(
        "x",
        "y",
        zorder_key(
            F.col("x"), F.lit(0), F.lit(255), F.col("y"), F.lit(0), F.lit(255), bits
        ).alias("z"),
    ).collect()

    def interleave(qx, qy):
        z = 0
        for i in range(bits):
            z |= ((qx >> i) & 1) << (2 * i)
            z |= ((qy >> i) & 1) << (2 * i + 1)
        return z

    for r in out:
        assert r.z == interleave(r.x, r.y), (r.x, r.y)


def test_write_zordered_localizes_both_dimensions(spark, tmp_path):
    """On a uniform 64x64 grid split into 16 files: a plain x-sorted
    layout leaves every file spanning ALL of y, while the z-ordered
    layout bounds BOTH dimensions per file."""
    import pyarrow.parquet as pq

    from solana_etl_pipeline_spark.sources.sinks import write_zordered

    grid = spark.range(0, 64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("int").alias("y")
    )
    plain = str(tmp_path / "plain")
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(plain)
    zpath = str(tmp_path / "z")
    write_zordered(grid, zpath, "x", "y", n_files=16, bits=6)

    def max_span(path, col):
        spans = []
        for f in (tmp_path / path).glob("*.parquet"):
            vals = pq.read_table(f, columns=[col])[col].to_pylist()
            if vals:
                spans.append(max(vals) - min(vals))
        return max(spans)

    assert max_span("plain", "y") == 63  # x-sort leaves y unbounded
    # z-order: every file covers a bounded rectangle in BOTH dims
    assert max_span("z", "x") <= 31
    assert max_span("z", "y") <= 31
    back = spark.read.parquet(zpath)
    assert back.count() == 64 * 64


def test_build_silver_keeps_distinct_websocket_events(spark, tmp_path):
    """Two different websocket messages for the SAME mint must both
    survive the (mint, signature) dedup — a constant '' signature
    would collapse them (the reference's pad is a trap here) — while
    an exact redelivery in a later micro-batch is dropped."""
    msgs = [
        json.dumps({"mint": "mintX", "txType": "buy", "solAmount": 1.0}),
        json.dumps({"mint": "mintX", "txType": "buy", "solAmount": 2.0}),
        # exact redelivery of the first message: MUST dedup
        json.dumps({"mint": "mintX", "txType": "buy", "solAmount": 1.0}),
    ]
    ws = tmp_path / "landing" / "ws"
    ws.mkdir(parents=True)
    for i, msg in enumerate(msgs):
        (ws / f"{i}.json").write_text(msg + "\n")
        os.utime(ws / f"{i}.json", (1_700_000_000 + i,) * 2)
    query = run_available_now_to_parquet(
        silver_stream(spark, str(tmp_path / "landing"), ws_per_batch=1),
        str(tmp_path / "silver"), str(tmp_path / "ckpt"))
    rows = read_silver(spark, str(tmp_path / "silver")).collect()
    assert len(rows) == 2
    assert {r.token_amount for r in rows} == {1.0, 2.0}
    assert [p.numInputRows for p in query.recentProgress][:3] == [1, 1, 1]
    assert dropped_duplicates(query) == 1


def test_full_pipeline_soak(spark, tmp_path):
    """SURVEY §3 lifecycle as ONE continuously-running system: live
    websocket fixture replay → landing files → bronze (continuous
    processingTime stream) → silver normalize + watermarked dedup
    (second chained continuous stream) → ``refresh_gold`` on each tick
    → serving snapshot of the published gold — over several replay
    ticks, asserting

    * monotone gold growth (each tick's mints appear, nothing lost),
    * bounded streaming state (dedup state rows evicted by the
      watermark — peak stays far below total messages, removals > 0),
    * snapshot freshness (the dashboard serves the pre-refresh
      snapshot until ``refresh()``, then reflects the new silver).

    The per-stage behaviors are pinned elsewhere (test_live_socket,
    test_streaming, test_serving); this soak pins the WIRING — two
    always-on queries chained through a parquet layer while a batch
    serving layer polls the tail.
    """
    import time as _time

    from solana_etl_pipeline_spark.pipelines.gold import refresh_gold
    from solana_etl_pipeline_spark.pipelines.normalize import (
        normalize_websocket_messages,
    )
    from solana_etl_pipeline_spark.serving import Dashboard
    from solana_etl_pipeline_spark.streaming.ingest import (
        deduplicated_within_watermark,
        state_partitions,
    )
    from tests.test_live_socket import _ingest, _msg

    landing = tmp_path / "landing"
    landing.mkdir()
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    os.makedirs(bronze)

    try:
        # stage A: landing text -> bronze parquet (raw preserved)
        q_bronze = (
            spark.readStream.text(str(landing))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", bronze)
            .option("checkpointLocation", str(tmp_path / "ckptA"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        # stage B: bronze -> normalize -> ingest-time watermarked dedup
        # -> silver parquet. current_timestamp() is the batch timestamp
        # (constant per micro-batch, DIFFERENT across batches), so the
        # dedup must key on (mint, signature) only — the
        # within-watermark form. The ts-appending `deduplicated` form
        # used here previously let a redelivery pass whenever load
        # split the two copies of a message across stage-B
        # micro-batches (each copy stamped with its own batch time).
        # Not build_silver: this stage pins an ingest-time stamp where
        # the chain has a fixed event time.
        raw = spark.readStream.schema("value string").parquet(bronze)
        silver_stream = (
            normalize_websocket_messages(raw, json_col="value")
            .withColumn("ingest_ts", F.current_timestamp())
        )
        deduped = deduplicated_within_watermark(
            silver_stream,
            keys=["mint", "signature"],
            ts_col="ingest_ts",
            # 5 s horizon: wide enough that only a >10 s stall
            # between the two copies' micro-batches could expire
            # the first copy's dedup state before the redelivery
            # arrives (at 2 s a ~4 s GC pause sufficed), narrow
            # enough that eviction still happens within the soak
            watermark="5 seconds",
        ).drop("ingest_ts")
        with state_partitions(deduped):
            q_silver = (
                deduped.writeStream.format("parquet")
                .outputMode("append")
                .option("path", silver)
                .option("checkpointLocation", str(tmp_path / "ckptB"))
                .trigger(processingTime="500 milliseconds")
                .start()
            )

        def silver_mints() -> set:
            try:
                return {
                    r.mint
                    for r in spark.read.parquet(silver)
                    .select("mint").distinct().collect()
                }
            except Exception:
                return set()  # sink not created yet

        def await_mints(expected: set, timeout: float = 60.0) -> set:
            deadline = _time.monotonic() + timeout
            got = silver_mints()
            while got < expected and _time.monotonic() < deadline:
                _time.sleep(0.5)
                got = silver_mints()
            return got

        expected: set = set()
        gold_counts = []
        dash = None
        for tick in range(3):
            # each tick replays a fresh socket session; every message
            # is sent twice (same payload => same ws: signature) so the
            # dedup stage does real cross-file work every tick
            base = [_msg(100 * tick + i) for i in range(12)]
            n, _ = _ingest(
                base + base, str(landing), prefix=f"t{tick}"
            )
            assert n == 24
            expected |= {f"MINT{100 * tick + i}" for i in range(12)}
            got = await_mints(expected)
            assert got == expected, f"tick {tick}: {got} != {expected}"
            refresh_gold(spark, silver, str(tmp_path / "gold"))

            if dash is None:
                dash = Dashboard(
                    spark, silver, working_set_rows=10_000,
                    data_ttl_sec=3600.0,
                )
                stale_gold = len(dash._snapshot().gold)
            else:
                # freshness contract: within TTL the dashboard still
                # serves LAST tick's snapshot until refresh()
                stale_gold = len(dash._snapshot().gold)
                assert stale_gold == gold_counts[-1]
            dash.refresh()
            fresh_gold = len(dash._snapshot().gold)
            assert fresh_gold == len(expected)
            gold_counts.append(fresh_gold)
            # advance past the watermark horizon (5 s): a tick's dedup
            # state (expiring at first-seen + 5 s, observed once the
            # watermark = max stamp - 5 s passes it, i.e. ~10 s of
            # batch-stamp progress) becomes evictable two ticks later
            _time.sleep(6.0)

        # monotone gold growth across ticks
        assert gold_counts == sorted(gold_counts)
        assert gold_counts[-1] == 36

        # bounded state: dedup state rows never approached the 72
        # delivered messages, and the watermark actually evicted rows
        progresses = [p for p in q_silver.recentProgress if p]
        ops = [
            op
            for p in progresses
            for op in (p.get("stateOperators") or [])
            if op.get("numRowsTotal") is not None
        ]
        assert ops, "no stateOperators progress from the silver stream"
        peak = max(op["numRowsTotal"] for op in ops)
        removed = sum(op.get("numRowsRemoved", 0) for op in ops)
        assert peak <= 48, f"dedup state unbounded: peak {peak}"
        assert removed > 0, "watermark never evicted dedup state"

        # exactly-once through the whole chain: every silver row unique
        silver_df = spark.read.parquet(silver)
        assert silver_df.count() == silver_df.select(
            "mint", "signature"
        ).distinct().count()
    finally:
        for q in spark.streams.active:
            q.stop()


def test_pipeline_exactly_once_event_time_deterministic(spark, tmp_path):
    """The soak's redelivery-leak semantics, pinned WITHOUT wall-clock:
    event time is a synthetic monotone stamp derived from the landing
    file's arrival sequence (``_metadata.file_name``), watermark
    horizons are crossed by DATA (a 100 s stamp jump), and the
    file→micro-batch split is forced with ``maxFilesPerTrigger=1`` +
    ``availableNow``. No ``current_timestamp()``, no ``sleep`` — a
    scheduler stall cannot change the outcome, and every batch is
    replayable (VERDICT r14 task 2; the wall-clock soak above stays as
    the load exhibit).

    Pins, in one deterministic scenario:

    * the r14 HAZARD: the ts-appending ``deduplicated`` form leaks a
      redelivery whenever the two copies carry different ingest
      stamps (here: copies land in different files);
    * the FIX: ``deduplicated_within_watermark`` drops the same
      redelivery because the business keys match within the horizon;
    * state eviction driven purely by event-time progress
      (``numRowsRemoved > 0`` after the stamp jump);
    * the horizon contract: a redelivery arriving AFTER its first
      copy's state expired passes again (bounded state has a price);
      note eviction runs at the END of a micro-batch, so the expired
      key must be evicted by an earlier batch than the redelivery's;
    * checkpoint restart: state survives a stop/start and still
      dedups a within-horizon redelivery delivered post-restart.
    """
    from solana_etl_pipeline_spark.pipelines.normalize import (
        normalize_websocket_messages,
    )
    from solana_etl_pipeline_spark.streaming.ingest import (
        deduplicated,
        deduplicated_within_watermark,
        state_partitions,
    )
    from tests.test_live_socket import _msg

    landing = tmp_path / "landing"
    landing.mkdir()

    def land(offset_s: int, msgs: list[dict]) -> None:
        # file name IS the arrival stamp: a<seconds>.txt, zero-padded
        # so lexicographic order == arrival order; mtime set to the
        # offset so the file source's (mtime, path) ordering is pinned
        path = landing / f"a{offset_s:05d}.txt"
        path.write_text("\n".join(json.dumps(m) for m in msgs) + "\n")
        os.utime(path, (1_700_000_000 + offset_s, 1_700_000_000 + offset_s))

    m = [_msg(i) for i in range(12)]
    land(0, m[0:4])                 # M0..M3 first copies      @ t+0
    land(2, m[0:4] + m[4:8])        # M0..M3 REDELIVERED (+2 s,
    #                                 inside the 5 s horizon) + M4..M7
    land(100, m[8:10])              # stamp jump: watermark crosses
    #                                 every earlier key's horizon
    land(101, [m[10]])              # one more batch: eviction runs at
    #                                 the END of a batch, so expired
    #                                 state is dropped here...
    land(102, [m[0]])               # ...and M0's BEYOND-horizon
    #                                 redelivery passes in the next

    base_epoch = 1_750_000_000

    # Not build_silver: the stamps here are ingest times from file
    # names, and the horizon is 5 s, where the chain has neither.
    def stream(dedup_fn):
        raw = (
            spark.readStream.option("maxFilesPerTrigger", "1")
            .text(str(landing))
            .withColumn(
                "ingest_ts",
                F.timestamp_seconds(
                    F.lit(base_epoch)
                    + F.regexp_extract(
                        F.col("_metadata.file_name"), r"a(\d+)", 1
                    ).cast("long")
                ),
            )
        )
        silver = normalize_websocket_messages(
            raw, json_col="value", keep_cols=("ingest_ts",)
        )
        return dedup_fn(
            silver, keys=["mint", "signature"], ts_col="ingest_ts",
            watermark="5 seconds",
        ).drop("ingest_ts")

    def drain(dedup_fn, name: str):
        out = str(tmp_path / f"out_{name}")
        deduped = stream(dedup_fn)
        with state_partitions(deduped):
            q = (
                deduped.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
                .trigger(availableNow=True)
                .start()
            )
        if not q.awaitTermination(300):
            q.stop()
            raise AssertionError(f"drain({name}) exceeded 300s")
        ops = [
            op
            for p in q.recentProgress if p
            for op in (p.get("stateOperators") or [])
        ]
        return spark.read.parquet(out), ops

    try:
        fixed, ops = drain(deduplicated_within_watermark, "fix")
        per_mint = {
            r["mint"]: r["n"]
            for r in fixed.groupBy("mint").agg(F.count("*").alias("n")).collect()
        }
        # M0 appears twice — once at t+0, once at t+102 AFTER its state
        # expired (horizon contract); every other mint exactly once.
        assert per_mint == {**{f"MINT{i}": 1 for i in range(1, 11)}, "MINT0": 2}
        # eviction happened on event-time progress alone
        assert sum(op.get("numRowsRemoved", 0) for op in ops) > 0

        # the HAZARD, batch-replayably: ts-appended keys split the
        # within-horizon redelivery (different stamp => different key),
        # leaking exactly the four t+2 copies of M0..M3
        leaked, _ = drain(deduplicated, "hazard")
        hazard_per_mint = {
            r["mint"]: r["n"]
            for r in leaked.groupBy("mint").agg(F.count("*").alias("n")).collect()
        }
        assert hazard_per_mint == {
            **{f"MINT{i}": 1 for i in range(4, 11)},
            **{f"MINT{i}": 2 for i in range(1, 4)},  # t+0 and leaked t+2
            "MINT0": 3,  # t+0, leaked t+2, post-horizon t+102
        }

        # restart from the checkpoint: M8's state (stamped t+100) is
        # restored, so its t+103 redelivery is dropped; M11 is new
        land(103, [m[8], m[11]])
        restarted, _ = drain(deduplicated_within_watermark, "fix")
        per_mint2 = {
            r["mint"]: r["n"]
            for r in restarted.groupBy("mint").agg(F.count("*").alias("n")).collect()
        }
        assert per_mint2 == {**per_mint, "MINT11": 1}
        # exactly-once on the business keys modulo the one documented
        # post-horizon readmission
        dupes = (
            restarted.groupBy("mint", "signature")
            .count().filter("count > 1").collect()
        )
        assert [(r["mint"], r["count"]) for r in dupes] == [("MINT0", 2)]
    finally:
        for q in spark.streams.active:
            q.stop()


def test_read_silver_starts_no_spark_job(spark, tmp_path):
    """The declared schema plans the read: no footer merge job."""
    out = drain_silver(spark, tmp_path, helius=[WRAPPED], ws=[WS_MSG])
    sc = spark.sparkContext
    sc.setJobGroup("probe:read_silver", "plan a silver read")
    try:
        read_silver(spark, out).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("probe:read_silver")) == []


def test_read_silver_has_the_declared_columns(spark, tmp_path):
    back = read_silver(
        spark, drain_silver(spark, tmp_path, helius=[WRAPPED], ws=[WS_MSG]))
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in CLEANED_TRANSACTIONS]
    assert back.count() == 3


def test_read_silver_null_fills_a_missing_column(spark, tmp_path):
    """A file written before a column existed reads it as null."""
    src = read_silver(
        spark, drain_silver(spark, tmp_path, helius=[WRAPPED], ws=[WS_MSG]))
    out = str(tmp_path / "plain")
    write_parquet(src, out)
    old = (
        src.filter(F.col("signature") == "sig2")
        .drop("token_standard")
        .withColumn("signature", F.lit("sig-old"))
    )
    write_parquet(old, out, mode="append")
    back = read_silver(spark, out)
    rows = {r.signature: r for r in back.collect()}
    assert rows["sig-old"].token_standard is None
    assert rows["sig2"].token_standard == "Fungible"
    assert back.count() == 4
