"""``analytics`` workload: sequential sweeps over registry queries.

Set-up writes the seeded fixture tables, runs one pass that collects
every query's result and compares it with DuckDB running the query's
``oracle`` SQL over the same parquet files (the repository's oracle
check, ``tests/oracle_utils.py``), then two untimed sweeps. The timed
part runs whole sweeps while the time budget lasts, at least three;
each query runs
through the ``noop`` sink (every output column is computed, nothing is
collected) with ``clearCache()`` after it, as ``bench.py`` does:

* relational set (``operators`` layer): the risk-score aggregation and
  top-k, and TPC-H Q21's six-way join with its EXISTS / NOT EXISTS
  (semi and anti) joins;
* curation set (``llm`` layer): n-gram decontamination against a
  held-out split (word shingles built by an Arrow ``pandas_udf`` in
  Python workers, then an overlap join) and exact dedup over
  ``documents``.

The set is four of the registry's queries, chosen to cover those
mechanisms while a sweep stays short enough for several in a run. A set's
cost is the sum of its queries' median core-seconds over the sweeps (the
CPU time the whole program, JVM and Python workers, spent on the query);
their median wall times are reported per layer.
"""

from __future__ import annotations

import os
import time
from statistics import median

import gen
from stats import tail, tree_cpu_s

from solana_etl_pipeline_spark.queries import QUERIES
from tests.oracle_utils import assert_matches_oracle, duckdb_connection

RELATIONAL = ("risk_scores_topk", "tpch_q21_waiting_supplier")
CURATION = ("llm_decontaminate", "llm_exact_dedup")
#: Untimed sweeps after the checking pass: JIT compilation kept shaving
#: 30-40% off the short queries over the next two sweeps, so without them
#: a median landed on that slope.
WARM_SWEEPS = 2
MIN_SWEEPS = 3
#: Table size: 1.0 is the row count of the sf0.01 fixture (60k lineitem
#: rows).
SCALE = 1.0


def _layer(name: str) -> str:
    return "llm" if name in CURATION else "operators"


def sweep(ctx, data: str, tag: str) -> dict[str, tuple[float, float, dict]]:
    """Run every query once through the noop sink; returns
    name -> (seconds, core-seconds, span attrs)."""
    spark, tr = ctx.spark, ctx.tracer
    out = {}
    for name in RELATIONAL + CURATION:
        cpu0 = tree_cpu_s()
        with tr.span(_layer(name), name, f"{name}#{tag}") as sp:
            QUERIES[name].spark(spark, data).write.format("noop") \
                .mode("overwrite").save()
        cpu = tree_cpu_s() - cpu0
        spark.catalog.clearCache()
        out[name] = (sp.end - sp.start, cpu, dict(sp.attrs))
    return out


def warmup_and_check(ctx, data: str) -> tuple[float, list[str]]:
    """The warm-up pass: every query runs once and its collected result
    is compared with DuckDB running the query's oracle SQL over the same
    parquet files. Returns (seconds, failing queries)."""
    con = duckdb_connection(data)
    bad, cold = [], []
    t_start = time.perf_counter()
    try:
        for name in RELATIONAL + CURATION:
            t0 = time.perf_counter()
            spec = QUERIES[name]
            try:
                assert_matches_oracle(spec.spark(ctx.spark, data), con,
                                      spec.oracle, name=name)
            except Exception as exc:  # an error or a wrong result
                ctx.note(f"{name}: {exc!r}")
                bad.append(name)
            ctx.spark.catalog.clearCache()
            cold.append(f"{name} {time.perf_counter() - t0:.1f}s")
    finally:
        con.close()
    ctx.note("cold first runs: " + ", ".join(cold))
    return time.perf_counter() - t_start, bad


def run(ctx):
    tr = ctx.tracer
    data = os.path.join(ctx.work, "tables")
    gen.write_analytics(ctx.seed, SCALE, data)
    warmup_s, bad = warmup_and_check(ctx, data)
    t0 = time.perf_counter()
    for k in range(WARM_SWEEPS):
        sweep(ctx, data, f"warmup{k}")
    warmup_s += time.perf_counter() - t0
    ctx.measure_heap()
    tr.reset()

    # whole sweeps, started while the time budget lasts; at least
    # MIN_SWEEPS, so that each query's time is a median
    sweeps = []
    t_end = time.perf_counter() + ctx.seconds
    while len(sweeps) < MIN_SWEEPS or time.perf_counter() < t_end:
        sweeps.append(sweep(ctx, data, f"sweep{len(sweeps)}"))
    n_queries = len(RELATIONAL + CURATION)
    attempted = n_queries * (1 + len(sweeps))

    ms = [s[n][0] * 1000 for s in sweeps for n in s]
    per_query = {n: median([s[n][0] for s in sweeps])
                 for n in RELATIONAL + CURATION}
    cpu = {n: median([s[n][1] for s in sweeps])
           for n in RELATIONAL + CURATION}
    ctx.note(f"analytics: {len(sweeps)} sweeps, {len(ms)} queries; "
             "per sweep (s / core-s): " + ", ".join(
                 " ".join(f"{n} {s[n][0]:.2f}/{s[n][1]:.2f}" for n in s)
                 for s in sweeps))
    # each set's cost is the sum of its queries' medians over the sweeps
    e2e = {
        "cycle_cpu_s": sum(cpu[n] for n in RELATIONAL),
        "ops_per_core_s": len(CURATION) / sum(cpu[n] for n in CURATION),
    }
    layers = {
        "queries.query_ms_p50": median(ms),
        "queries.query_ms_p90": tail(ms),
    }
    for n, t in per_query.items():
        layers[f"queries.{n}_s"] = t
    if tr.enabled:
        for layer, names in (("operators", RELATIONAL), ("llm", CURATION)):
            def total(key, names=names):
                return median([sum(s[n][2].get(key, 0) for n in names)
                               for s in sweeps])

            layers[f"{layer}.shuffle_bytes"] = total("shuffle_write_bytes")
            layers[f"{layer}.spill_bytes"] = (total("spill_memory_bytes")
                                              + total("spill_disk_bytes"))
            layers[f"{layer}.gc_ms"] = total("gc_ms")
            layers[f"{layer}.tasks"] = total("tasks")
            layers[f"{layer}.cpu_s"] = total("cpu_ns") / 1e9
        layers["sources.scan_bytes"] = median(
            [sum(s[n][2].get("scan_bytes", 0) for n in RELATIONAL)
             for s in sweeps])
    return ctx.result(warmup_s, attempted, len(bad), e2e, layers)
