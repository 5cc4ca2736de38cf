"""Per-stage decade decomposition of the near-dup survivors pipeline.

The r11 clean-window re-pin (COVERAGE convention 7) measured the full
pipeline at x8.44 wall for x5 data (2 M -> 10 M docs) while substring
dedup stayed sublinear, and the partition ABA recorded in COVERAGE.md
round 11 ruled OUT shuffle-partition count (32 -> 256 -> 32:
680.5 / 723.4 / 683.7 s, so 256 is ~6% SLOWER at 10 M docs). This
harness times each pipeline stage separately at both sizes — same
session, materialization barriers between stages, intermediates
persisted so later stages don't recompute earlier ones — to localize
which stage scales superlinearly:

  shingle   shingle_sets persist + materialize
  minhash   banded candidate generation (Arrow signatures + bucket join)
  verify    exact n-gram Jaccard over the candidate pairs
  cc        connected components + canonical-survivor resolution

Run:  python tools/survivors_stage_decomp.py [--sizes 2000000,10000000]
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from solana_etl_pipeline_spark.session import build_session  # noqa: E402
from tools.scale_rehearsal import (  # noqa: E402
    build_corpus,
    size_rehearsal_heap,
    timed,
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_stages(spark, docs, n: int) -> dict[str, float]:
    from solana_etl_pipeline_spark.llm.cluster import near_dup_dedup
    from solana_etl_pipeline_spark.llm.dedup import (
        _scoped_persist,
        dedup_cache_scope,
        minhash_near_dup_pairs,
        ngram_jaccard_for_pairs,
        shingle_sets,
    )

    walls: dict[str, float] = {}
    with dedup_cache_scope():
        sh = _scoped_persist(shingle_sets(docs, "doc_id", "text", 3))
        walls["shingle"] = timed(f"shingle ({n})", lambda: noop(sh))
        cand = _scoped_persist(
            minhash_near_dup_pairs(
                docs, "doc_id", "text",
                num_hashes=64, bands=16, threshold=0.5, shingles=sh,
            ).select("id_a", "id_b")
        )
        walls["minhash"] = timed(f"minhash ({n})", lambda: noop(cand))
        pairs = _scoped_persist(
            ngram_jaccard_for_pairs(
                docs, cand, "doc_id", "text", shingles=sh
            ).filter(F.col("jaccard") >= 0.5)
        )
        walls["verify"] = timed(f"verify ({n})", lambda: noop(pairs))
        walls["cc"] = timed(
            f"cc ({n})",
            lambda: noop(
                near_dup_dedup(docs, pairs, "doc_id")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_survivors"))
            ),
        )
    return walls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="2000000,10000000")
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    workdir = args.workdir or tempfile.mkdtemp(prefix="surv_decomp_")

    size_rehearsal_heap()
    spark = build_session(app_name="survivors-stage-decomp")
    spark.sparkContext.setLogLevel("ERROR")

    by_size: dict[int, dict[str, float]] = {}
    for n in sizes:
        corpus_dir = f"{workdir}/corpus_{n}"
        timed(
            f"generate+land corpus ({n})",
            lambda: build_corpus(spark, n, corpus_dir),
        )
        docs = spark.read.parquet(corpus_dir)
        by_size[n] = run_stages(spark, docs, n)
        spark.catalog.clearCache()
        shutil.rmtree(corpus_dir, ignore_errors=True)

    if len(sizes) >= 2:
        a, b = sizes[0], sizes[-1]
        scale = b / a
        for stage in by_size[a]:
            ra, rb = by_size[a][stage], by_size[b][stage]
            print(
                f"{stage}: {ra:.1f}s @ {a} -> {rb:.1f}s @ {b} "
                f"(x{rb / ra:.2f} wall for x{scale:.0f} data)",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
