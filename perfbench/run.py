"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Builds one Spark session at ``local[<cores>]``, runs the named workload
(``ingest`` or ``analytics``) on inputs generated from
``--seed``, checks the program's outputs and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones, and the spans go to
``.bench_out/spans-<workload>-seed<seed>.jsonl``. Metric names and units
come from ``BENCHMARK.json``.

All files live under ``.bench_run/`` in the checkout and are deleted when
the run ends; progress notes go to standard error.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "analytics")
DRIVER_MEMORY = "4g"


class Ctx:
    """What a workload gets: the session, tracer, seed, time budget and
    a private scratch directory."""

    def __init__(self, spark, tracer, seed, seconds, work, session_s):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.session_s = session_s
        self.heap_mb = None

    def measure_heap(self) -> None:
        """In the traced run, record the driver heap in use after a full
        collection at the end of set-up: what the program holds once set
        up and warm (cached snapshots, state, broadcasts)."""
        if not self.tracer.enabled:
            return
        jvm = self.spark.sparkContext._jvm
        runtime = jvm.java.lang.Runtime.getRuntime()
        jvm.java.lang.System.gc()
        # the collection hands dead RDDs, shuffles and broadcasts to
        # Spark's asynchronous cleaner; collect again once it has run
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        self.heap_mb = (runtime.totalMemory() - runtime.freeMemory()) / 2**20

    def note(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    def result(self, warmup_s, attempted, failed, e2e, layers) -> dict:
        """Bundle a workload's figures. ``setup_s`` is the session build
        plus the workload's warm-up pass (its first, cold, cycle)."""
        self.note(f"session {self.session_s:.2f}s, warm-up {warmup_s:.2f}s")
        return {
            "attempted": attempted,
            "failed": failed,
            "e2e": {"setup_s": self.session_s + warmup_s, **e2e},
            "layers": {"session.build_s": self.session_s,
                       "session.warmup_s": warmup_s,
                       "session.live_heap_mb": self.heap_mb, **layers},
        }


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _clean_stale(run_root: str) -> None:
    """Remove scratch dirs of earlier runs whose process is gone."""
    if not os.path.isdir(run_root):
        return
    for name in os.listdir(run_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and os.path.exists(f"/proc/{pid}"):
            continue
        shutil.rmtree(os.path.join(run_root, name), ignore_errors=True)


def _pin_environment(work: str) -> None:
    """Pin the engine to the cores and scratch space of this run before
    the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    from solana_etl_pipeline_spark.session import gc_java_opts

    # a fixed set of JIT compiler threads: ``stats.tree_cpu_s`` subtracts
    # their time, which it could not do for a thread that had exited
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"{gc_java_opts()} -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp}"
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "solana_etl_pipeline_spark")):
        print("perfbench: the solana_etl_pipeline_spark package is not in "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    run_root = os.path.join(ROOT, ".bench_run")
    _clean_stale(run_root)
    work = os.path.join(run_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _pin_environment(work)
        from solana_etl_pipeline_spark.session import build_session
        from spans import Tracer

        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}",
            extra_confs={"spark.ui.showConsoleProgress": "false"},
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work, session_s)
        module = importlib.import_module(args.workload)
        out = module.run(ctx)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        out["layers"]["session.peak_rss_mb"] = (
            _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self"))
        if args.trace:
            for layer, s in tracer.self_time().items():
                out["layers"][f"{layer}.self_s"] = s
            out["layers"]["trace.collect_s"] = tracer.collect_s
            for k in ("ops_per_core_s", "cycle_cpu_s"):
                if k in out["e2e"]:
                    out["layers"][f"trace.{k}"] = out["e2e"][k]
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            spans_path = os.path.join(
                ROOT, ".bench_out",
                f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans_path)
            ctx.note(f"{len(tracer.spans)} spans -> {spans_path}")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = out["layers"] if args.trace else out["e2e"]
    metrics, missing = {}, []
    for m in spec[section]:
        if m["name"] not in values:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0)),
                              "unit": m["unit"]}
    if missing and not args.trace:
        raise RuntimeError(f"workload did not measure {missing}")
    if missing:
        print(f"# not exercised by {args.workload} (reported as 0): "
              + ", ".join(missing), file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name:<40} {m['value']:>16.4f} {m['unit']}")
    attempted, failed = out["attempted"], out["failed"]
    print(f"failed_frac {failed / attempted:.4f} "
          f"({failed} of {attempted} operations)")
    print(f"# run took {time.perf_counter() - started:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
