"""``ingest`` workload: landing files -> silver -> gold, then dashboard
reads.

Set-up lands two seeded backlogs (one message per file), drains the
first (the cold warm-up) and opens the dashboard on the silver that
drain wrote. The timed part runs rounds, started while ``--seconds``
lasts (at least one). A round has two phases, one after the other, so
the cores each one uses can be told apart. First, the cycle below runs
on the second backlog, each time through a fresh checkpoint into fresh
silver:

    readStream text -> dispatch_and_flatten / normalize_websocket_messages
      -> deduplicated_within_watermark(mint, signature)
      -> run_available_now_to_parquet (silver)

then ``refresh_gold`` over the silver it wrote. Second, closed-loop
dashboard clients serve one period of requests on the set-up silver
(see ``dashboard.py``). The watermark is wider than the generated time
span, so dedup is exact and the dropped row count must equal the
generator's redelivered rows.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from contextlib import ExitStack
from datetime import datetime
from statistics import median

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import dashboard
import gen
from spans import Span
from stats import tail, tree_cpu_s

from solana_etl_pipeline_spark.pipelines.gold import refresh_gold
from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)
from solana_etl_pipeline_spark.streaming.ingest import (
    deduplicated_within_watermark,
    run_available_now_to_parquet,
)

#: Files admitted per micro-batch from each feed. The reference admits up
#: to 999 files per 5 s batch (``cleandata1.py:11``); here a batch is
#: shrunk to 4 Helius documents (900 rows) and 16 websocket messages.
#: The 1:4 ratio is an assumption: the reference fetches one history
#: document per mint its websocket feed announced.
HELIUS_PER_BATCH = 4
WS_PER_BATCH = 16
#: Micro-batches in the timed backlog and in the warm-up backlog.
BACKLOG_BATCHES = 3
WARMUP_BATCHES = 1
WATERMARK = "3650 days"
#: Event time for websocket rows, which carry no timestamp.
WS_EVENT_TIME = "2024-03-01 00:00:00"
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


class ProgressLog(StreamingQueryListener):
    """Collects every StreamingQueryProgress, keyed by run id, with the
    program's core-seconds (``tree_cpu_s``) when it arrived."""

    def __init__(self):
        self.progress: dict[str, list] = {}
        self.cpu: dict[str, list[float]] = {}
        self.finished: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

    def _done(self, run_id: str) -> threading.Event:
        with self._lock:
            return self.finished.setdefault(run_id, threading.Event())

    def onQueryStarted(self, event):
        self._done(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        cpu = tree_cpu_s()
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(p)
            self.cpu.setdefault(str(p.runId), []).append(cpu)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._done(str(event.runId)).set()


def landing_backlog(seed: int, batches: int) -> gen.Landing:
    """``batches`` full micro-batches of each feed, redelivered copies
    included."""
    def originals(per_batch: int) -> int:
        return round(per_batch * batches / (1 + gen.REDELIVERY_SHARE))

    return gen.landing(seed, originals(HELIUS_PER_BATCH),
                       originals(WS_PER_BATCH))


def silver_stream(spark, landing_dir: str):
    def feed(sub: str, per_batch: int):
        return (spark.readStream.option("maxFilesPerTrigger", per_batch)
                .text(os.path.join(landing_dir, sub))
                .withColumnRenamed("value", "raw"))

    helius = dispatch_and_flatten(feed("helius", HELIUS_PER_BATCH))
    ws = normalize_websocket_messages(feed("ws", WS_PER_BATCH))
    merged = helius.unionByName(ws).withColumn(
        "event_time",
        F.coalesce("ts", F.lit(WS_EVENT_TIME).cast("timestamp")))
    return deduplicated_within_watermark(
        merged, ["mint", "signature"], ts_col="event_time",
        watermark=WATERMARK,
    ).drop("event_time")


class Ingest:
    """Runs drain-and-refresh cycles and collects their progress."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.log = ProgressLog()
        self.spark.streams.addListener(self.log)
        self._seen: set[str] = set()

    def cycle(self, landing_dir: str, tag: str) -> dict:
        """Drain ``landing_dir`` into fresh silver, then refresh gold."""
        ctx, tr = self.ctx, self.ctx.tracer
        out = os.path.join(ctx.work, tag)
        silver, gold = f"{out}/silver", f"{out}/gold"
        cpu0 = tree_cpu_s()
        with tr.span("streaming", "run_available_now_to_parquet", tag) as sp:
            run_available_now_to_parquet(
                silver_stream(self.spark, landing_dir), silver,
                f"{out}/checkpoint", timeout_sec=150)
        cpu1 = tree_cpu_s()
        drain_s = sp.end - sp.start
        run_id, progress, batch_cpu = self._progress_of_latest_run(cpu0)
        # micro-batch jobs run under the query's run id as job group
        tr.attach(sp, run_id)
        with tr.span("pipelines", "refresh_gold", tag) as gsp:
            gold_df = refresh_gold(self.spark, silver, gold)
        cpu2 = tree_cpu_s()
        for p in progress:
            self._batch_span(p, sp)
        return {"dir": out, "silver": silver, "gold_df": gold_df,
                "start": sp.start, "drain_s": drain_s,
                "gold_s": gsp.end - gsp.start,
                "gold_cpu_s": cpu2 - cpu1, "batch_cpu_s": batch_cpu,
                "gold_attrs": dict(gsp.attrs), "progress": progress}

    def _progress_of_latest_run(self, cpu0: float):
        """(run id, progress of its micro-batches that read rows, the
        core-seconds each of those took), for the one streaming run since
        the last call; ``cpu0`` is ``tree_cpu_s()`` at its start."""
        runs = [r for r in self.log.finished if r not in self._seen]
        if len(runs) != 1:
            raise RuntimeError(f"expected one new streaming run, saw {runs}")
        run_id = runs[0]
        self._seen.add(run_id)
        if not self.log.finished[run_id].wait(30):
            raise RuntimeError("streaming query never reported termination")
        progress = self.log.progress.get(run_id, [])
        marks = [cpu0] + self.log.cpu.get(run_id, [])
        used = [(p, b - a) for p, a, b in zip(progress, marks, marks[1:])
                if p.numInputRows > 0]
        return run_id, [p for p, _ in used], [c for _, c in used]

    def _batch_span(self, p, parent: Span) -> None:
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        d = dict(p.durationMs)
        start = _iso_epoch(p.timestamp)
        batch = tr.add(Span(0, f"batch {p.batchId}", "streaming", start,
                            start + d.get("triggerExecution", 0) / 1000,
                            parent=parent.sid, request=f"batch {p.batchId}",
                            attrs={"rows": p.numInputRows}))
        t = start
        for phase in PHASES:
            if d.get(phase):
                layer = "sources" if phase in ("latestOffset", "getBatch") \
                    else "streaming"
                tr.add(Span(0, phase, layer, t, t + d[phase] / 1000,
                            parent=batch.sid, request=batch.request))
                t += d[phase] / 1000


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _state_op(p, field: str, custom: bool = False) -> int:
    total = 0
    for op in p.stateOperators:
        total += (op.customMetrics.get(field, 0) if custom
                  else getattr(op, field))
    return total


def check_round(ctx, r: dict, backlog: gen.Landing, rng: random.Random):
    """Correctness of a drain and gold refresh; returns
    (drain_ok, gold_ok, notes)."""
    spark = ctx.spark
    notes = []
    silver = spark.read.parquet(r["silver"]).select("mint", "signature")
    keys = {(a, b) for a, b in silver.collect()}
    n_rows = silver.count()
    expected = backlog.truth.keys()
    dropped = sum(_state_op(p, "numDroppedDuplicateRows", custom=True)
                  for p in r["progress"])
    drain_ok = (n_rows == len(keys) == len(expected) and keys == expected
                and dropped == backlog.redelivered_rows)
    if not drain_ok:
        notes.append(f"silver rows {n_rows} distinct {len(keys)} expected "
                     f"{len(expected)}; dropped {dropped} expected "
                     f"{backlog.redelivered_rows}")
    holders, buyers = backlog.truth.holders(), backlog.truth.buyers()
    sample = rng.sample(sorted(holders), min(25, len(holders)))
    got = {row["mint"]: (row["unique_holders"], row["unique_buyers"])
           for row in r["gold_df"].filter(F.col("mint").isin(sample))
           .select("mint", "unique_holders", "unique_buyers").collect()}
    want = {m: (len(holders[m]), len(buyers[m])) for m in sample}
    gold_ok = got == want
    if not gold_ok:
        bad = [m for m in sample if got.get(m) != want[m]][:3]
        notes.append(f"gold mismatch on {bad}")
    return drain_ok, gold_ok, notes


def message_latencies_ms(r: dict) -> list[float]:
    """Per landed message: milliseconds from the start of the drain to
    the commit of the micro-batch that read it (the backlog is all
    landed before the drain starts, so this includes queueing)."""
    out = []
    for p in sorted(r["progress"], key=lambda p: p.batchId):
        done = _iso_epoch(p.timestamp) + p.durationMs["triggerExecution"] / 1000
        out += [(done - r["start"]) * 1000] * p.numInputRows
    return out


def run(ctx):
    ingest = Ingest(ctx)
    tr = ctx.tracer
    landing = f"{ctx.work}/landing"
    backlog = landing_backlog(ctx.seed, BACKLOG_BATCHES)
    gen.write_landing(backlog.files, landing)
    warm_backlog = landing_backlog(ctx.seed + 7919, WARMUP_BATCHES)
    gen.write_landing(warm_backlog.files, f"{ctx.work}/landing-warm")
    rng = random.Random(ctx.seed)

    with ExitStack() as stack:
        # -- set-up: the cold cycle, then open the dashboard on its silver
        t0 = time.perf_counter()
        warm = ingest.cycle(f"{ctx.work}/landing-warm", "warmup")
        reads = stack.enter_context(
            dashboard.serving(ctx, warm["silver"], warm_backlog.truth))
        reads.warm()
        warmup_s = time.perf_counter() - t0
        checks = [check_round(ctx, warm, warm_backlog, rng)]
        ctx.measure_heap()
        tr.reset()

        # -- timed: rounds of a drain-and-refresh cycle, then a period of
        # dashboard reads
        rounds, errors = [], []
        deadline = time.perf_counter() + ctx.seconds
        try:
            while not rounds or time.perf_counter() < deadline:
                rounds.append(ingest.cycle(landing, f"round{len(rounds)}"))
                reads.run_period()
        except Exception as exc:  # reported as a failed cycle
            errors.append(f"cycle {len(rounds)}: {exc!r}")

    checks += [check_round(ctx, r, backlog, rng) for r in rounds]
    last = rounds[-1] if rounds else warm
    silver_files, silver_bytes = _parquet_files(last["silver"])
    for r in [warm] + rounds:
        shutil.rmtree(r["dir"])
    notes = errors + [n for _, _, ns in checks for n in ns]
    for n in notes + reads.errors[:5]:
        ctx.note(n)
    attempted = 2 * len(checks) + len(errors) + reads.attempted
    failed = (sum((not d) + (not g) for d, g, _ in checks) + len(errors)
              + reads.failed)
    if not rounds:
        return ctx.result(warmup_s, attempted, failed, {}, {})

    views = [v * 1000 for vs in reads.views.values() for v in vs]
    batches = [p for r in rounds for p in r["progress"]]
    latency = [ms for r in rounds for ms in message_latencies_ms(r)]
    ctx.note(f"ingest: {len(rounds)} cycles, {len(batches)} micro-batches, "
             "core-s per micro-batch " + ", ".join(
                 " ".join(f"{c:.2f}" for c in r["batch_cpu_s"])
                 for r in rounds)
             + f"; reads: {len(views)} views and {len(reads.reloads)} "
             f"reloads in {reads.wall:.1f}s, {reads.cpu_s:.2f} core-s")

    def phase(name):
        return median([p.durationMs.get(name, 0) for p in batches])

    steady = [c for r in rounds for c in r["batch_cpu_s"][1:]]
    e2e = {
        # the first micro-batch of a drain also starts the query
        "cycle_cpu_s": sum(steady) / len(steady),
        "ops_per_core_s": reads.served / reads.cpu_s,
    }

    def gold(key):
        return median([r["gold_attrs"].get(key, 0) for r in rounds])

    layers = {
        "sources.latest_offset_ms_p50": phase("latestOffset"),
        "sources.get_batch_ms_p50": phase("getBatch"),
        "streaming.message_ms_p50": median(latency),
        "streaming.message_ms_tail": tail(latency),
        "streaming.drain_s": median([r["drain_s"] for r in rounds]),
        "streaming.add_batch_ms_p50": phase("addBatch"),
        "streaming.planning_ms_p50": phase("queryPlanning"),
        "streaming.wal_commit_ms_p50": phase("walCommit"),
        "streaming.state_commit_ms_p50": median(
            [_state_op(p, "commitTimeMs") for p in batches]),
        "streaming.state_rows_total": _state_op(batches[-1], "numRowsTotal"),
        "streaming.state_memory_bytes": _state_op(batches[-1],
                                                  "memoryUsedBytes"),
        "pipelines.silver_files": silver_files,
        "pipelines.silver_bytes": silver_bytes,
        "streaming.batch_ms_p50": phase("triggerExecution"),
        "pipelines.gold_refresh_s": median([r["gold_s"] for r in rounds]),
        "pipelines.gold_refresh_cpu_s": median([r["gold_cpu_s"]
                                                for r in rounds]),
        "serving.requests_per_s": reads.served / reads.wall,
        "serving.view_ms_p50": median(views),
        "serving.view_ms_p90": tail(views),
        "serving.reload_s": median(reads.reloads),
    }
    for view, vs in reads.views.items():
        layers[f"serving.{view}_ms_p50"] = median(vs) * 1000 if vs else 0.0
    if tr.enabled:
        layers["serving.jobs_per_view"] = median(reads.view_jobs)
        layers["serving.reload_jobs"] = median(
            [a.get("jobs", 0) for a in reads.reload_attrs])
        layers["serving.reload_scan_bytes"] = median(
            [a.get("scan_bytes", 0) for a in reads.reload_attrs])
        layers["sources.scan_bytes"] = gold("scan_bytes")
        layers["pipelines.gold_shuffle_bytes"] = gold("shuffle_write_bytes")
        layers["pipelines.gold_tasks"] = gold("tasks")
    return ctx.result(warmup_s, attempted, failed, e2e, layers)


def _parquet_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size
