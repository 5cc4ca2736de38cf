"""Interleaved A/B: default (HDFS-backed) vs RocksDB streaming state store.

``session.rocksdb_state_store_confs()`` is the engine's 100 TB posture
for streaming state — the default provider keeps every live key in
executor HEAP, so at large state the choice is forced regardless of
fixture-scale speed. This harness measures what the choice COSTS at
measurable scale, the same discipline as the substring JVM-vs-Arrow
A/B (``git show 232a0f9:tools/substring_ab.py``): a deliberately
accepted trade still gets a number, not a guess.

Shape: one landing corpus of JSON events (≈90 % distinct
``(user_id, event_id)`` keys, all event times inside the watermark
horizon so nothing evicts), drained by the engine's own
``landing_stream → deduplicated`` path with ``maxFilesPerTrigger=1``
— so each run is N_FILES micro-batches and the state store
commits/restores per batch, which is the surface being compared. The
sink is streaming-noop, so wall clock is parse + dedup + state
maintenance, not sink I/O. Providers are INTERLEAVED (d,r,d,r,...)
within one session so ambient drift (the box's documented ±40 %
swing) hits both alike; per-provider best-of-n is reported, plus the
on-disk checkpoint state size (changelog vs delta formats).

Run:  python tools/state_store_ab.py [--sizes 250000,1000000]
          [--files 8] [--repeat 3] [--workdir D] [--span-hours H]

``--span-hours`` switches grow mode (default, state accumulates to
the full key count) to churn mode (time-ordered files + 1-hour
watermark: every batch inserts AND evicts — the steady-state shape).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from solana_etl_pipeline_spark.schemas import EVENTS  # noqa: E402
from solana_etl_pipeline_spark.session import (  # noqa: E402
    build_session,
    rocksdb_state_store_confs,
)
from solana_etl_pipeline_spark.streaming.ingest import (  # noqa: E402
    deduplicated,
    landing_stream,
)

#: The default provider, for restoring the session conf between legs.
_DEFAULT_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)


def build_landing(
    spark, n: int, landing_dir: str, n_files: int, span_hours: float = 0.0
) -> None:
    """Land ``n`` JSON events, ~90 % distinct keys (the rest replay an
    earlier key).

    ``span_hours=0`` (grow mode): event times spread over one hour so
    a '2 hours' watermark evicts nothing and state grows to the full
    key count. ``span_hours>0`` (churn mode): event times advance
    linearly over the span and files are RANGE-partitioned on time
    (admitted oldest-first via mtime), so with a short watermark each
    micro-batch both inserts its keys and EVICTS the horizon-expired
    ones — the steady-state shape of a 100 TB stream, where eviction
    throughput (tombstone/compaction work in RocksDB vs map removal
    in heap) is part of the per-batch cost."""
    n_keys = int(n * 0.9)
    if span_hours > 0:
        ts = F.timestamp_seconds(
            F.lit(1704067200)
            + F.col("id") * F.lit(span_hours * 3600.0 / n)
        )
        df = spark.range(n).select(
            (F.col("id") % n_keys).alias("event_id"),
            ts.alias("ts"),
            ((F.col("id") % n_keys) % 9973).alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        ).repartitionByRange(n_files, "ts")
    else:
        df = spark.range(n).select(
            (F.col("id") % n_keys).alias("event_id"),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") % 3600)
            ).alias("ts"),
            ((F.col("id") % n_keys) % 9973).alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        ).repartition(n_files)
    df.write.mode("overwrite").json(landing_dir)
    # the file source admits files in mtime order; make it stable
    now = time.time()
    parts = sorted(
        f for f in os.listdir(landing_dir) if f.endswith(".json")
    )
    for i, f in enumerate(parts):
        path = os.path.join(landing_dir, f)
        os.utime(path, (now - len(parts) + i,) * 2)


def drain_available_now(
    spark,
    landing_dir: str,
    ckpt: str,
    watermark: str = "2 hours",
) -> float:
    """One availableNow drain of the landing dir through the engine's
    ``landing_stream → deduplicated`` path to a noop sink, using
    whatever state-store confs are already on the session. Returns
    wall seconds for all micro-batches. Shared by the provider A/B
    (below) and the snapshot-cadence probe
    (``tools/state_store_cadence.py``)."""
    stream = landing_stream(spark, landing_dir, EVENTS, max_files_per_trigger=1)
    deduped = deduplicated(
        stream, ["user_id", "event_id"], watermark=watermark
    )
    t0 = time.perf_counter()
    query = (
        deduped.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if query.exception():
        raise query.exception()
    return time.perf_counter() - t0


def drain_once(
    spark,
    landing_dir: str,
    ckpt: str,
    rocksdb: bool,
    watermark: str = "2 hours",
) -> float:
    """One cold availableNow drain (fresh checkpoint) under the given
    provider: returns wall seconds, state built from empty."""
    confs = (
        rocksdb_state_store_confs()
        if rocksdb
        else {
            "spark.sql.streaming.stateStore.providerClass":
                _DEFAULT_PROVIDER,
        }
    )
    for k, v in confs.items():
        spark.conf.set(k, v)
    return drain_available_now(spark, landing_dir, ckpt, watermark)


def state_bytes(ckpt: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _size_span(sizes: "list[int]") -> str:
    """Render per-run checkpoint bytes as MB — one number when all
    runs agree (deterministic per (n, provider)), else min..max."""
    lo, hi = min(sizes) / 1e6, max(sizes) / 1e6
    if min(sizes) == max(sizes):
        return f"{lo:.1f}"
    return f"{lo:.1f}..{hi:.1f}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="250000,1000000")
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--workdir", default=None)
    ap.add_argument(
        "--span-hours", type=float, default=0.0,
        help="0 = grow mode (all events inside the horizon, state "
        "grows monotonically); >0 = churn mode (time-ordered files "
        "over this span with a 1-hour watermark, so each batch "
        "inserts AND evicts — steady-state shape)",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    watermark = "1 hour" if args.span_hours > 0 else "2 hours"
    workdir = args.workdir or tempfile.mkdtemp(prefix="state_ab_")

    spark = build_session(app_name="state-store-ab")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[tuple[int, str], list[float]] = {}
    # Per-run, not last-run-wins: any per-run variance in checkpoint
    # bytes (e.g. RocksDB snapshot-upload timing) must be visible in
    # the summary instead of silently hidden (ADVICE r14).
    sizes_on_disk: dict[tuple[int, str], list[int]] = {}
    for n in sizes:
        landing = os.path.join(workdir, f"landing_{n}")
        build_landing(spark, n, landing, args.files, args.span_hours)
        # untimed warm-up of BOTH providers (JIT, file-source listing,
        # codegen caches — and the rocksdbjni native-library load +
        # first RocksDB instance init, which would otherwise bias the
        # rocksdb leg's first timed run against it)
        for warm_rocksdb in (False, True):
            warm_ckpt = os.path.join(workdir, f"warm_{n}_{warm_rocksdb}")
            drain_once(spark, landing, warm_ckpt, rocksdb=warm_rocksdb,
                       watermark=watermark)
            shutil.rmtree(warm_ckpt, ignore_errors=True)
        for i in range(args.repeat):
            for label, rocksdb in (("default", False), ("rocksdb", True)):
                ckpt = os.path.join(workdir, f"ckpt_{n}_{label}_{i}")
                wall = drain_once(spark, landing, ckpt, rocksdb,
                                  watermark=watermark)
                results.setdefault((n, label), []).append(wall)
                size = state_bytes(ckpt)
                sizes_on_disk.setdefault((n, label), []).append(size)
                print(
                    f"{label} ({n}) run {i + 1}/{args.repeat}: "
                    f"{wall:.1f}s  state={size / 1e6:.1f}MB",
                    flush=True,
                )
                shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(landing, ignore_errors=True)

    for n in sizes:
        d = results[(n, "default")]
        r = results[(n, "rocksdb")]
        print(
            f"n={n}: default min {min(d):.1f}s (all {[f'{x:.1f}' for x in d]})"
            f"  rocksdb min {min(r):.1f}s (all {[f'{x:.1f}' for x in r]})"
            f"  ratio {min(r) / min(d):.3f}"
            f"  state {_size_span(sizes_on_disk[(n, 'default')])}"
            f"/{_size_span(sizes_on_disk[(n, 'rocksdb')])}MB",
            flush=True,
        )
    if len(sizes) >= 2:
        a, b = sizes[0], sizes[-1]
        for label in ("default", "rocksdb"):
            print(
                f"{label}: x{min(results[(b, label)]) / min(results[(a, label)]):.2f} "
                f"wall for x{b / a:.0f} data",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
