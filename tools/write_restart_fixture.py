"""Write a checkpoint-restart fixture: a 2-batch dedup drain of the
silver write chain, with its landing files, checkpoint and silver.

The chain is the one ``perfbench/ingest.py``'s ``silver_stream`` builds:

    landing text -> dispatch_and_flatten / normalize_websocket_messages
      -> deduplicated_within_watermark(mint, signature)
      -> run_available_now_to_parquet (silver)

Run it from the repository root with the version whose checkpoints the
fixture should hold::

    python tools/write_restart_fixture.py /tmp/graft-restart-fixture \\
        --written-by <commit>

then copy the directory under ``tests/fixtures/``. The file source log
(``checkpoint/sources/0/*``) and the sink log (``silver/_spark_metadata/*``)
hold absolute ``file://`` paths under the directory the drain wrote to;
``manifest.json`` records that root, so a reader can rewrite it.
``tests/test_restart_fixture.py`` restarts every fixture it finds. A
release that changes the chain writes a new fixture beside the old ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402
from ingest import HELIUS_PER_BATCH, WS_PER_BATCH, silver_stream  # noqa: E402

from solana_etl_pipeline_spark.pipelines.normalize import (  # noqa: E402
    dispatch_and_flatten,
    normalize_websocket_messages,
)
from solana_etl_pipeline_spark.session import build_session  # noqa: E402
from solana_etl_pipeline_spark.streaming.ingest import (  # noqa: E402
    run_available_now_to_parquet,
)

BATCHES = 2
#: Transactions per Helius document: the benchmark's 100 would make the
#: landing files about 740 KB; 2 keeps them near 24 KB.
TX_PER_DOC = 2


def file_rows(spark, path: str) -> int:
    """Rows the chain's normalization gives one landing file, before
    dedup."""
    raw = spark.read.text(path).withColumnRenamed("value", "raw")
    feed = os.path.basename(os.path.dirname(path))
    norm = (dispatch_and_flatten if feed == "helius"
            else normalize_websocket_messages)
    return norm(raw).count()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", help="directory to write (replaced if present)")
    ap.add_argument("--seed", type=int, default=18)
    ap.add_argument("--written-by", required=True,
                    help="the commit whose chain writes the fixture")
    args = ap.parse_args()
    out = os.path.abspath(args.out)
    shutil.rmtree(out, ignore_errors=True)
    landing = os.path.join(out, "landing")
    backlog = gen.landing(
        args.seed,
        *(round(n * BATCHES / (1 + gen.REDELIVERY_SHARE))
          for n in (HELIUS_PER_BATCH, WS_PER_BATCH)),
        tx_per_doc=TX_PER_DOC)
    gen.write_landing(backlog.files, landing)
    # one second apart, in landing order, so the file source admits the
    # feeds' files in the order they were generated
    t0 = gen.BASE_EPOCH
    for i, (rel, _) in enumerate(backlog.files):
        os.utime(os.path.join(landing, rel), (t0 + i, t0 + i))

    spark = build_session(app_name="write-restart-fixture", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    query = run_available_now_to_parquet(
        silver_stream(spark, landing), os.path.join(out, "silver"),
        os.path.join(out, "checkpoint"))
    progress = [p for p in query.recentProgress if p.numInputRows]
    ops = [op for p in progress for op in p.stateOperators]
    silver = spark.read.parquet(os.path.join(out, "silver"))
    keys = [tuple(r) for r in silver.select("mint", "signature").collect()]
    dropped = sum(op.customMetrics["numDroppedDuplicateRows"] for op in ops)
    # the fixture holds a correct drain: every generated key once, every
    # redelivered row dropped
    assert len(keys) == len(set(keys)) and set(keys) == backlog.truth.keys()
    assert dropped == backlog.redelivered_rows, (dropped, backlog)
    manifest = {
        "written_by": args.written_by,
        "seed": args.seed,
        "root": f"file://{out}",
        "batches": len(progress),
        "state_partitions": sorted({op.numShufflePartitions for op in ops}),
        "dropped_duplicates": dropped,
        "silver_rows": len(keys),
        "landing_rows": {
            rel: file_rows(spark, os.path.join(landing, rel))
            for rel, _ in backlog.files},
    }
    spark.stop()
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in manifest.items()
                      if k != "landing_rows"}))


if __name__ == "__main__":
    main()
