"""Multi-executor smoke: the executor-side config path, actually exercised.

``build_session`` mirrors the GC/Arrow JVM options into
``spark.executor.extraJavaOptions`` (ADVICE r11) — but in ``local[N]``
executors live in the driver JVM and the mirror is inert, so nothing in
the regular suite proves the options LAND in a real executor JVM.
``local-cluster[2,4,4096]`` launches two genuine Worker/Executor
processes on this box (no network, no cluster manager needed) and lets
us assert, from ``/proc``:

  * two CoarseGrainedExecutorBackend JVMs exist (multi-executor, not
    driver-embedded),
  * their command lines carry every flag ``gc_java_opts()`` emits
    (the r11 executor-OOM fix applies where the Arrow allocation
    pressure actually happens),

and that a near-dup query and a shuffle-heavy TPC-H query produce
RESULTS IDENTICAL to plain local mode — shuffles now cross process
boundaries through real block transfers, Python workers hang off
executor JVMs rather than the driver, and broadcast joins ship over the
wire, so semantic drift between the modes would surface here.

It also runs a checkpointed STATEFUL streaming dedup (build state →
stop → restart with a replayed duplicate) and a watermark-evicting
dedup in local-cluster on the default state-store provider: streaming
state stores are instantiated in executor processes, so this proves
cross-batch/cross-restart state and its eviction work in real executor
JVMs, with output identical to local mode.

Run directly (exit 0 = pass)::

    python tools/local_cluster_smoke.py [--sf-dir /root/testdata/sf0.001]

or via ``tests/test_local_cluster.py``, which subprocess-runs this file
(a second SparkContext cannot coexist with the suite's session fixture
in one process).
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from solana_etl_pipeline_spark.session import build_session, gc_java_opts

#: One banded near-dup (Arrow signature stage + band-bucket shuffle +
#: verify join), one multi-join TPC-H aggregate (wide shuffles,
#: broadcast dims), and one pure-mapInPandas pipeline (binary
#: payloads through Arrow: in local-cluster the Python workers hang
#: off the EXECUTOR JVMs and the Arrow batches cross a real process
#: boundary — the path most different from local[N]).
SMOKE_QUERIES = (
    "llm_minhash_near_dup",
    "tpch_q9_product_profit",
    "llm_media_header_stats",
)


def _canonical(df) -> list[tuple]:
    """Order-insensitive, column-name-sorted, float-rounded rows —
    the same normalization the oracle diff uses."""
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    rows = [tuple(norm(r[i]) for i in order) for r in df.collect()]
    rows.sort()
    return rows


def _executor_cmdlines() -> list[str]:
    """Command lines of live executor-backend JVM processes.

    A Worker's own cmdline also mentions the backend class it is about
    to launch, so require the java main-class position, not a substring
    hit anywhere.
    """
    out = []
    for path in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            argv = open(path, "rb").read().decode(errors="replace").split("\x00")
        except OSError:
            continue
        if any(
            a == "org.apache.spark.executor.CoarseGrainedExecutorBackend"
            for a in argv
        ):
            out.append(" ".join(a for a in argv if a))
    return out


def _run_stateful(spark, work_dir: str) -> list[tuple]:
    """Checkpointed streaming dedup, run → restart-with-new-data → run.

    State stores live in EXECUTOR processes: in local-cluster the
    cross-batch dedup keys are maintained, checkpointed, and RESTORED
    inside real executor JVMs — the last executor-side code path the
    suite otherwise only exercises driver-embedded. Returns
    the canonical final sink rows; raises if the restart fails to
    drop the replayed duplicate (state did not survive).
    """
    from solana_etl_pipeline_spark.schemas import EVENTS
    from solana_etl_pipeline_spark.streaming.ingest import (
        deduplicated,
        landing_stream,
        run_available_now_to_parquet,
    )

    landing = os.path.join(work_dir, "landing")
    os.makedirs(landing)
    ckpt = os.path.join(work_dir, "ckpt")
    out = os.path.join(work_dir, "out")

    def event(eid, uid, ts):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "purchase", "value": 1.0, "props": "{}"}

    def land(name, rows, age):
        path = os.path.join(landing, name)
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (time.time() - age,) * 2)

    land("f1.json", [event(1, 10, "2024-01-01T00:05:00.000Z"),
                     event(2, 10, "2024-01-01T00:10:00.000Z")], 20)
    stream = landing_stream(spark, landing, EVENTS, max_files_per_trigger=1)
    run_available_now_to_parquet(
        deduplicated(stream, ["user_id", "event_id"], watermark="1 hour"),
        out, ckpt,
    )

    # restart from the same checkpoint with a replayed duplicate plus
    # one genuinely new key
    land("f2.json", [event(1, 10, "2024-01-01T00:05:00.000Z"),
                     event(3, 11, "2024-01-01T00:15:00.000Z")], 10)
    stream2 = landing_stream(spark, landing, EVENTS, max_files_per_trigger=1)
    run_available_now_to_parquet(
        deduplicated(stream2, ["user_id", "event_id"], watermark="1 hour"),
        out, ckpt,
    )
    sink = spark.read.parquet(out)
    keys = sorted((r.user_id, r.event_id) for r in sink.collect())
    if keys != [(10, 1), (10, 2), (11, 3)]:
        raise AssertionError(
            f"stateful restart produced {keys}: cross-batch dedup state "
            "did not survive the executor-side checkpoint round-trip"
        )
    return _canonical(sink.select("event_id", "user_id", "ts", "value"))


def _run_evicting(spark, work_dir: str) -> list[tuple]:
    """Churn shape in real executor JVMs: the watermark advances file
    by file (event times an hour apart, 30-minute horizon,
    ``maxFilesPerTrigger=1``), so dedup state is inserted AND EVICTED
    inside the executor processes. The r14 A/B measured this path only
    driver-embedded (VERDICT r14 task 7). Asserts from the query's own
    progress metrics that eviction ran and shrank live state (final <
    peak, removed > 0). Returns canonical sink rows for cross-mode
    comparison: all duplicates are within-horizon, so output is
    eviction-timing-independent.
    """
    from solana_etl_pipeline_spark.schemas import EVENTS
    from solana_etl_pipeline_spark.streaming.ingest import (
        deduplicated,
        landing_stream,
    )

    landing = os.path.join(work_dir, "landing")
    os.makedirs(landing)
    ckpt = os.path.join(work_dir, "ckpt")
    out = os.path.join(work_dir, "out")

    def event(eid, uid, hour, minute):
        return {
            "event_id": eid, "user_id": uid, "event_type": "purchase",
            "value": 1.0, "props": "{}",
            "ts": f"2024-01-01T{hour:02d}:{minute:02d}:00.000Z",
        }

    now = time.time()
    for h in range(4):
        rows = [event(10 * h + i, 7, h, 5 * i) for i in range(3)]
        if h == 1:
            rows.append(event(0, 7, 0, 0))  # within-horizon replay
        path = os.path.join(landing, f"e{h}.json")
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (now - 40 + 10 * h,) * 2)

    stream = landing_stream(spark, landing, EVENTS, max_files_per_trigger=1)
    query = (
        deduplicated(stream, ["user_id", "event_id"],
                     watermark="30 minutes")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    if query.exception():
        raise query.exception()
    ops = [
        op
        for p in query.recentProgress if p
        for op in (p.get("stateOperators") or [])
        if op.get("numRowsTotal") is not None
    ]
    if not ops:
        raise AssertionError("evicting run produced no state metrics")
    peak = max(op["numRowsTotal"] for op in ops)
    final = ops[-1]["numRowsTotal"]
    removed = sum(op.get("numRowsRemoved", 0) for op in ops)
    if removed <= 0 or final >= peak:
        raise AssertionError(
            f"watermark eviction did not run in this mode: "
            f"peak={peak} final={final} removed={removed}"
        )
    print(
        f"  eviction metrics: peak={peak} final={final} removed={removed}"
    )
    sink = spark.read.parquet(out)
    keys = sorted(r.event_id for r in sink.collect())
    if keys != sorted({10 * h + i for h in range(4) for i in range(3)}):
        raise AssertionError(f"evicting run wrong keys: {keys}")
    # the state data source reads the SAME checkpoint batch-side (ops
    # surface over executor-written state): the live ledger after
    # eviction is exactly the final hour's keys — matching the
    # peak/final metrics asserted above
    from solana_etl_pipeline_spark.sources import dedup_state_keys

    live = {r.event_id for r in dedup_state_keys(spark, ckpt).collect()}
    if live != {30, 31, 32}:
        raise AssertionError(
            f"state reader disagrees with eviction metrics: live={live}"
        )
    return _canonical(sink.select("event_id", "user_id", "ts", "value"))


def _run_queries(spark, sf_dir: str) -> dict[str, list[tuple]]:
    from solana_etl_pipeline_spark.queries import QUERIES

    return {
        name: _canonical(QUERIES[name].spark(spark, sf_dir))
        for name in SMOKE_QUERIES
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args(argv)

    expected_flags = gc_java_opts().split()

    spark = build_session(
        app_name="local-cluster-smoke",
        master="local-cluster[2,4,4096]",
        shuffle_partitions=8,
        # Executor Python workers are spawned by the executor JVMs and
        # do NOT inherit the driver's sys.path (first genuine
        # multi-process finding of this smoke): the package must be
        # shipped. Same box ⇒ the repo path suffices; a real cluster
        # ships a wheel via --py-files / spark.submit.pyFiles instead.
        extra_confs={"spark.executorEnv.PYTHONPATH": str(REPO)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # Force executor registration before scanning /proc.
        assert spark.range(1000).selectExpr("sum(id)").first()[0] == 499500
        deadline = time.time() + 60
        execs: list[str] = []
        while time.time() < deadline and len(execs) < 2:
            execs = _executor_cmdlines()
            if len(execs) < 2:
                time.sleep(1)
        if len(execs) < 2:
            print(f"FAIL: expected 2 executor JVMs, found {len(execs)}")
            return 1
        print(f"executor JVMs: {len(execs)}")
        for cmd in execs:
            missing = [f for f in expected_flags if f not in cmd]
            if missing:
                print(f"FAIL: executor JVM missing JVM opts {missing}")
                print(f"  cmdline: {cmd[:400]}")
                return 1
        print(f"executor JVM opts landed: {expected_flags}")

        cluster_results = _run_queries(spark, args.sf_dir)
        for name, rows in cluster_results.items():
            print(f"{name}: {len(rows)} rows on local-cluster")
        # Stateful streaming: dedup state is built, checkpointed, and
        # restored across a query RESTART inside the two real executor
        # JVMs, not in the driver.
        with tempfile.TemporaryDirectory() as wd:
            cluster_stateful = _run_stateful(spark, wd)
        print(
            f"stateful dedup+restart: {len(cluster_stateful)} rows on "
            "local-cluster"
        )
        # Churn/eviction path in the executor JVMs (VERDICT r14
        # task 7): watermark-driven state eviction.
        with tempfile.TemporaryDirectory() as wd:
            cluster_evicting = _run_evicting(spark, wd)
        print(f"evicting dedup: {len(cluster_evicting)} rows on local-cluster")
    finally:
        spark.stop()

    # Same queries, plain local mode, same process (sequential contexts).
    spark = build_session(
        app_name="local-cluster-smoke-baseline",
        master="local[8]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        local_results = _run_queries(spark, args.sf_dir)
        # Output equality below pins semantic transparency across
        # execution modes: driver-embedded vs real executor JVMs.
        with tempfile.TemporaryDirectory() as wd:
            local_stateful = _run_stateful(spark, wd)
        with tempfile.TemporaryDirectory() as wd:
            local_evicting = _run_evicting(spark, wd)
    finally:
        spark.stop()

    rc = 0
    if cluster_stateful == local_stateful:
        print("stateful dedup+restart: local-cluster == local  OK")
    else:
        print(
            f"FAIL: stateful dedup diverges across modes "
            f"({cluster_stateful} vs {local_stateful})"
        )
        rc = 1
    if cluster_evicting == local_evicting:
        print("evicting dedup: local-cluster == local  OK")
    else:
        print(
            f"FAIL: evicting dedup diverges across modes "
            f"({cluster_evicting} vs {local_evicting})"
        )
        rc = 1
    for name in SMOKE_QUERIES:
        if cluster_results[name] == local_results[name]:
            print(f"{name}: local-cluster == local  OK")
        else:
            a, b = cluster_results[name], local_results[name]
            diff = [(x, y) for x, y in zip(a, b) if x != y]
            print(
                f"FAIL: {name} diverges across modes "
                f"(rows {len(a)} vs {len(b)}; first diff: "
                f"{diff[0] if diff else 'row count'})"
            )
            rc = 1
    print("PASS" if rc == 0 else "FAIL")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
