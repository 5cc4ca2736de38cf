"""Incremental near-duplicate detection over a persisted signature
store — the production shape of fuzzy dedup at 100 TB.

``minhash_near_dup_pairs`` (llm/dedup.py) answers "which pairs in
THIS corpus are near-dups" and costs a full signature pass every run.
A training-data pipeline instead sees documents ARRIVE: each
micro-batch must be checked against everything indexed so far without
recomputing the corpus. This module keeps a parquet signature store —
``sigs/`` (id, sig) and ``bands/`` (id, band_idx, band_hash), both
partitioned by ``batch_id`` — and each batch step:

1. signs only the new documents (cost ∝ batch, not corpus),
2. probes the band index with a (band_idx, band_hash) equi-join —
   the same skinny-row bucket join as the batch path, so the probe
   shuffles |batch|·bands rows against a store that at cluster scale
   would be bucketed on band_hash for a shuffle-free build side,
3. estimates Jaccard from full signatures for the (few) colliding
   candidates — never re-reading any old document text,
4. writes this batch's signatures, band entries, and verdicts as
   ``batch_id=N`` partitions using DYNAMIC partition overwrite: a
   replayed batch (foreachBatch retry after a crash) overwrites its
   own partitions instead of appending duplicates, and the probe
   reads only ``batch_id < N``, so a half-written failed attempt can
   never match against itself. Exactly-once falls out of the
   checkpoint's batch ids plus these two rules.

Within-batch duplicates are caught by a band self-join (lower id
wins) before the store grows. The store pins its (num_hashes, bands)
parameters in ``meta/`` on first use and refuses mismatched probes —
band hashes from a different signature shape would silently estimate
garbage similarity. Empty/unsignable epochs are no-ops (they would
otherwise leave fileless partition dirs that break later schema
inference). See tests/test_incremental.py for the foreachBatch wiring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.dedup import (
    _est_jaccard,
    band_rows,
    minhash_signatures,
)

#: Signature value-representation version. MinHash minima are only
#: comparable when produced by the same base hash / permutation family
#: (``llm/dedup.py::minhash_signatures``); a store written under one
#: implementation must refuse probes from another or est_jaccard
#: silently degrades to noise. Bump when the representation changes.
#: 1 = xxhash64 base (agg twin, pre-r5); 2 = crc32 base, map-only.
_SIG_IMPL = 2


def _path_exists(spark, path: str) -> bool:
    """Existence check through Hadoop's FileSystem API — unlike
    ``os.path.isdir`` this works for any store filesystem Spark can
    reach (HDFS/S3/local), which the probe gating must."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _check_or_init_meta(
    spark, store_dir: str, num_hashes: int, bands: int
) -> None:
    """Pin (num_hashes, bands) in the store on first use; refuse to
    probe a store built with different parameters — mismatched band
    slices would silently estimate garbage similarity."""
    meta_path = os.path.join(store_dir, "meta")
    if _path_exists(spark, meta_path):
        meta = spark.read.parquet(meta_path).collect()[0]
        stored_impl = meta.asDict().get("sig_impl", 1)
        if (meta.num_hashes, meta.bands) != (num_hashes, bands):
            raise ValueError(
                f"signature store at {store_dir} was built with "
                f"num_hashes={meta.num_hashes}, bands={meta.bands}; "
                f"got num_hashes={num_hashes}, bands={bands}"
            )
        if stored_impl != _SIG_IMPL:
            raise ValueError(
                f"signature store at {store_dir} was built with "
                f"sig_impl={stored_impl}, this build produces "
                f"sig_impl={_SIG_IMPL}; minima from different base "
                f"hashes are not comparable — rebuild the store"
            )
    else:
        # range+lit, not createDataFrame-from-list: a Python-list frame
        # is a Python-RDD scan that launches one Python worker per
        # default partition (~8s for one row on local[32]); range is a
        # pure-JVM local relation
        (
            spark.range(1)
            .select(
                F.lit(num_hashes).alias("num_hashes"),
                F.lit(bands).alias("bands"),
                F.lit(_SIG_IMPL).alias("sig_impl"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(meta_path)
        )


def _write_partition(df: DataFrame, path: str, n_files: int = 1) -> None:
    """Idempotent per-batch write: dynamic partition overwrite replaces
    exactly the batch_id partitions present in ``df``. Defaults to one
    file per batch partition — micro-batch signature sets are small
    and the store's reader cost is dominated by file count (raise
    ``n_files`` for genuinely large arrival batches)."""
    (
        df.coalesce(n_files)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def incremental_near_dup_batch(
    batch: DataFrame,
    store_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_probe_per_bucket: int | None = None,
) -> DataFrame:
    """Process one arrival batch against the signature store.

    Writes duplicate verdicts ``(new_id, dup_of, est_jaccard, scope)``
    — ``scope`` ``'index'`` for matches against previously indexed
    batches, ``'batch'`` for matches inside this batch (lower id
    wins) — to ``store_dir/verdicts/batch_id=N``, indexes the batch's
    signatures, and returns this batch's verdicts.

    ``max_probe_per_bucket`` bounds the hot-bucket accumulation
    pathology: every arrival is indexed — duplicates included — so a
    boilerplate band bucket GROWS with each batch, and an arrival
    hitting it fans out to the bucket's full population (probe cost
    for that bucket ∝ everything ever indexed, breaking the
    "probe ∝ batch" contract over time). With the cap set, only the
    k smallest store ids per probed bucket serve as candidates —
    computed with the repo's salted two-phase top-k (a per-bucket
    window would funnel the hot bucket through one task). Detection
    of mass-duplicated arrivals is preserved (clones share identical
    signatures, so the bucket's minimum ids verify at est 1.0);
    near-dup links to NON-minimal bucket members are the documented
    trade, the same star discipline as
    ``minhash_near_dup_pairs(max_bucket=...)``. ``None`` (default)
    keeps exhaustive probe semantics.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    spark = batch.sparkSession
    _check_or_init_meta(spark, store_dir, num_hashes, bands)

    new_sigs = minhash_signatures(
        batch, id_col, text_col, num_hashes
    ).persist()
    new_bands = band_rows(new_sigs, id_col, bands, rows_per_band)

    sig_path = os.path.join(store_dir, "sigs")
    band_path = os.path.join(store_dir, "bands")
    verdict_path = os.path.join(store_dir, "verdicts")
    # gate on BOTH store tables: a batch-0 attempt that died between
    # the sigs and bands writes must read as "no store yet" so the
    # retry rebuilds both, instead of wedging on the missing path
    have_store = _path_exists(spark, sig_path) and _path_exists(
        spark, band_path
    )

    if new_sigs.isEmpty():
        # nothing signable (empty epoch, or all-null text): index
        # nothing — empty partitioned writes would leave fileless dirs
        # that crash later schema inference
        new_sigs.unpersist()
        id_type = batch.schema[id_col].dataType.simpleString()
        return spark.range(0).select(
            F.lit(None).cast(id_type).alias("new_id"),
            F.lit(None).cast(id_type).alias("dup_of"),
            F.lit(None).cast("double").alias("est_jaccard"),
            F.lit(None).cast("string").alias("scope"),
        )

    # r16 (guide §2.4): ONE merged probe join instead of two separate
    # candidate joins + two separate verdict subtrees. The probe side
    # unions this batch's band rows (scope 'batch', earlier-id-wins)
    # with the store's (scope 'index'); one equi-join, one distinct,
    # one pair of signature joins — the previous shape ran the whole
    # chain twice (once per scope), doubling the exchanges and the
    # serial AQE stage-jobs of the verdicts write. A ``_store`` flag
    # rides the probe rows so the two scopes keep their exact
    # semantics: a doc_id indexed earlier AND arriving again yields
    # BOTH verdicts, and each verdict joins the signature from its own
    # side (store signature for 'index', batch signature for 'batch').
    nb = new_bands.select(F.col(id_col).alias("new_id"), "band_idx", "band_hash")

    def _verdicts(cand: DataFrame, dup_sigs: DataFrame) -> DataFrame:
        """cand: (new_id, dup_of, _store); dup_sigs: (dup_of, _store,
        old_sig) — joined on BOTH keys so an id present in batch and
        store verifies against the right signature per scope."""
        joined = (
            cand.join(
                new_sigs.select(F.col(id_col).alias("new_id"),
                                F.col("sig").alias("new_sig")),
                "new_id",
            )
            .join(dup_sigs, ["dup_of", "_store"])
            .withColumn("est_jaccard",
                        F.round(_est_jaccard("new_sig", "old_sig"), 6))
            .filter(F.col("est_jaccard") >= threshold)
        )
        return joined.select(
            "new_id", "dup_of", "est_jaccard",
            F.when(F.col("_store"), "index").otherwise("batch")
            .alias("scope"),
        )

    probe_bands = nb.select(
        F.col("new_id").alias("dup_of"), "band_idx", "band_hash",
        F.lit(False).alias("_store"),
    )
    dup_sigs = new_sigs.select(
        F.col(id_col).alias("dup_of"), F.lit(False).alias("_store"),
        F.col("sig").alias("old_sig"),
    )
    if have_store:
        # batch_id < N: a half-written partition from a failed attempt
        # at THIS batch must never probe against itself
        old_bands = (
            spark.read.parquet(band_path)
            .filter(F.col("batch_id") < batch_id)
            .select(F.col(id_col).alias("dup_of"), "band_idx", "band_hash")
        )
        if max_probe_per_bucket is not None:
            k = max_probe_per_bucket
            # salted two-phase min-k per bucket. What the salt DOES
            # bound: a hot bucket's rows spread over 64 (bucket, salt)
            # groups on distinct tasks, and the final merge sorts at
            # most 64*k ids per bucket — no one-task funnel. What it
            # does NOT bound (review r15): collect_list's aggregation
            # buffer still concatenates each (bucket, salt) group's
            # FULL id list before the slice (no true partial min-k in
            # DataFrame aggs), so a 10^8-id mega-bucket holds
            # ~bucket/64 ids in one buffer; memory per task shrinks
            # 64x, it is not capped at k.
            partial = old_bands.groupBy(
                "band_idx",
                "band_hash",
                F.pmod(F.xxhash64("dup_of"), F.lit(64)).alias("_salt"),
            ).agg(
                F.slice(
                    F.array_sort(F.collect_list("dup_of")), 1, k
                ).alias("_c")
            )
            old_bands = (
                partial.groupBy("band_idx", "band_hash")
                .agg(
                    F.slice(
                        F.array_sort(F.flatten(F.collect_list("_c"))), 1, k
                    ).alias("_c")
                )
                .select(
                    "band_idx", "band_hash",
                    F.explode("_c").alias("dup_of"),
                )
            )
        old_sigs = spark.read.parquet(sig_path).filter(
            F.col("batch_id") < batch_id
        )
        probe_bands = probe_bands.unionByName(
            old_bands.withColumn("_store", F.lit(True))
        )
        dup_sigs = dup_sigs.unionByName(
            old_sigs.select(
                F.col(id_col).alias("dup_of"), F.lit(True).alias("_store"),
                F.col("sig").alias("old_sig"),
            )
        )
    cand = (
        nb.join(probe_bands, ["band_idx", "band_hash"])
        # within-batch: earlier doc wins; store probes: all candidates
        .filter(F.col("_store") | (F.col("dup_of") < F.col("new_id")))
        .select("new_id", "dup_of", "_store")
        .distinct()
    )
    out = _verdicts(cand, dup_sigs)

    stamped = out.withColumn("batch_id", F.lit(batch_id))
    # r17 (ADVICE r16): verdicts write FIRST, alone — the crash-retry
    # gate (``have_store`` requires BOTH sigs and bands for a batch)
    # assumes verdict-monotonicity: a batch whose sigs+bands are
    # visible has its verdicts visible too, so a non-replaying caller
    # never indexes documents whose duplicate verdicts were silently
    # lost. Parallelizing all three (r16) made {sigs, bands,
    # no-verdicts} a reachable crash state; restoring the
    # verdicts-first barrier closes it again. The two INDEX writes
    # (sigs/bands — mutually unordered: a crash between them leaves
    # the batch unindexed either way, exactly as under the old serial
    # order) still submit from a 2-thread pool so the scheduler
    # back-fills one write's task tail with the other's (guide §2.6),
    # which is where the r16 win actually was: the verdicts job can't
    # overlap anything downstream of itself anyway, because the
    # caller's read-back depends on it.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    _write_partition(stamped, verdict_path)
    index_writes = (
        lambda: _write_partition(
            new_sigs.withColumn("batch_id", F.lit(batch_id)), sig_path
        ),
        lambda: _write_partition(
            new_bands.withColumn("batch_id", F.lit(batch_id)), band_path
        ),
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [
            pool.submit(inheritable_thread_target(w)) for w in index_writes
        ]:
            fut.result()
    new_sigs.unpersist()
    # read the just-written rows back instead of returning the lazy
    # plan — evaluating the plan would re-run the signing and both
    # probe joins; the explicit schema keeps the read valid even when
    # this batch produced zero verdicts (fileless partition dir)
    return (
        spark.read.schema(stamped.schema)
        .parquet(verdict_path)
        .filter(F.col("batch_id") == batch_id)
        .drop("batch_id")
    )
