"""Parallel-scaling witness (r17, VERDICT r16 item 8): time the
join-heavy TPC-H plans at a scale where shuffle bytes, not per-job
dispatch, dominate — so the 8-vs-32-core ratio actually measures the
engine's parallelism rather than the fixture-scale job floor.

Data: the replication scheme of ``git show 232a0f9:tools/tpch_decade.py``
(10× key-offset replicas → sf1) generalized to N replicas; default 100
→ "sf10" (~60 M lineitem, ~1.5 GB parquet). Every
distribution/selectivity is preserved exactly (N disconnected
self-similar sub-universes), so wall time growing super-linearly in
rows exposes a plan problem, not a data-shape change.

Run (one core count per process; compare two runs)::

    SPARK_GRAFT_CPUS=8  python tools/scaling_witness.py [--replicas 100]
    SPARK_GRAFT_CPUS=32 python tools/scaling_witness.py [--replicas 100]

Prints one JSON line: per-query [runs] plus mins.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from solana_etl_pipeline_spark.queries import QUERIES  # noqa: E402
from solana_etl_pipeline_spark.session import build_session  # noqa: E402

SF01 = "/root/testdata/sf0.1"
_REPLICATION = {
    "customer": [("c_custkey", 15_000)],
    "orders": [("o_orderkey", 150_000), ("o_custkey", 15_000)],
    "part": [("p_partkey", 20_000)],
    "supplier": [("s_suppkey", 1_000)],
    # no partsupp: the fixtures don't ship one (queries derive it)
    "lineitem": [
        ("l_orderkey", 150_000),
        ("l_partkey", 20_000),
        ("l_suppkey", 1_000),
    ],
}
_COPY = ("region", "nation")

QUERY_NAMES = (
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
)


def ensure_sfn(spark, workdir: str, replicas: int) -> str:
    dst = Path(workdir) / f"sfx{replicas}"
    marker = dst / "_WITNESS_OK"
    if marker.exists():
        return str(dst)
    dst.mkdir(parents=True, exist_ok=True)
    reps = spark.range(replicas).select(F.col("id").alias("_rep"))
    for name in _COPY:
        spark.read.parquet(f"{SF01}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(str(dst / f"{name}.parquet"))
    for name, strides in _REPLICATION.items():
        df = spark.read.parquet(f"{SF01}/{name}.parquet")
        rep = df.crossJoin(F.broadcast(reps))
        for col, stride in strides:
            rep = rep.withColumn(
                col, F.col(col) + F.col("_rep") * F.lit(stride)
            )
        rep.drop("_rep").repartition(64).write.mode("overwrite").parquet(
            str(dst / f"{name}.parquet")
        )
    marker.touch()
    return str(dst)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=100)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--workdir", default="/root/repo/.rehearsal")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = build_session(app_name="scaling-witness")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = ensure_sfn(spark, args.workdir, args.replicas)

    def execute(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    execute(QUERY_NAMES[0])  # warm-up
    runs = {n: [] for n in QUERY_NAMES}
    for _ in range(args.reps):
        for n in QUERY_NAMES:
            runs[n].append(execute(n))
            spark.catalog.clearCache()
    print(json.dumps({
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "replicas": args.replicas,
        "runs": runs,
        "mins": {n: min(v) for n, v in runs.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
