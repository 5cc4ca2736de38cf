"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:

- ``cosine_topk`` — exact brute force: broadcast the (small) query set
  against the corpus, dot products via ``zip_with``/``aggregate``
  higher-order expressions (JVM-side, no Python). This is the O(Q·N)
  baseline and the correctness oracle for the approximate path.
- ``lsh_cosine_topk`` — random-hyperplane LSH (sign-random-projection,
  Charikar '02): each vector gets a p-bit signature; candidates are
  vectors sharing a signature band with the query; exact cosine is
  computed only within buckets. At 100 TB the bucket join replaces the
  full scan — recall is tuned by (n_planes, n_bands).

Hyperplanes are pseudo-random but fully deterministic: a fixed-seed
Gaussian matrix regenerated identically in every task — reproducible
across runs and cluster sizes with no RNG state to ship.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

#: fixed seed for the SRP hyperplane matrix — part of the index
#: definition: changing it invalidates previously-computed signatures.
_SRP_SEED = 20_260_813


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


@F.pandas_udf(DoubleType())
def _pair_cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    out: list = [None] * len(a)
    av, bv = a.to_numpy(), b.to_numpy()
    idx = [
        i
        for i in range(len(a))
        if av[i] is not None and bv[i] is not None
        and len(av[i]) == len(bv[i])
    ]
    if idx:
        with np.errstate(divide="ignore", invalid="ignore"):
            if len({len(av[i]) for i in idx}) == 1:
                ma = np.stack(
                    [np.asarray(av[i], dtype=np.float64) for i in idx]
                )
                mb = np.stack(
                    [np.asarray(bv[i], dtype=np.float64) for i in idx]
                )
                num = np.einsum("ij,ij->i", ma, mb)
                den = np.linalg.norm(ma, axis=1) * np.linalg.norm(
                    mb, axis=1
                )
                vals = num / den
                for j, i in enumerate(idx):
                    # Zero-norm (incl. empty) vectors: the JVM twin's
                    # Divide yields NULL on a zero divisor, and NULL is
                    # filtered/sorted-last everywhere NaN would instead
                    # rank FIRST in desc top-k — so map 0/0 to None.
                    out[i] = float(vals[j]) if den[j] != 0.0 else None
            else:  # pragma: no cover - ragged batch, rare
                for i in idx:
                    x = np.asarray(av[i], dtype=np.float64)
                    y = np.asarray(bv[i], dtype=np.float64)
                    d = float(np.linalg.norm(x) * np.linalg.norm(y))
                    out[i] = float(np.dot(x, y)) / d if d != 0.0 else None
    return pd.Series(out, dtype=object)


def pair_cosine(a: Column, b: Column) -> Column:
    """Arrow-batched cosine between two vector columns — the verify
    kernel every candidate-pair path shares (LSH/IVF bands, semantic
    in-cluster pairs, embedding near-dup, ADC re-rank).

    The expression form ``_dot(a,b)/(_norm(a)*_norm(b))`` that
    :func:`cosine_topk` uses evaluates interpreted higher-order
    closures per element — ~3·dim closure evaluations per pair — which
    dominates wide candidate sets (the recall harness measured the LSH
    n_bands=8 sweep at 105.7 s on 100 k vectors, almost all of it the
    verify). The numpy kernel does one ``einsum`` per Arrow batch.
    Null-propagation semantics match the expression form: either side
    null, or length-mismatched pairs (zip_with's null padding), yield
    NULL; zero-norm vectors (incl. empty arrays) also yield NULL —
    Spark's Divide returns NULL on a zero divisor, and the kernel
    mirrors that so degenerate vectors never NaN-rank first in desc
    top-k (Spark orders NaN above every double). Low-order float bits
    can differ from the sequential JVM sum (numpy uses pairwise
    summation); every caller rounds to 1e-6 before comparing or
    ranking, the same tolerance already relied on for the
    JVM-vs-DuckDB engine difference."""
    return _pair_cosine_udf(a, b)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self-matches excluded). Output: (query_id, neighbor_id,
    rank, cosine).

    CONTRACT: the query side must be SMALL — it is broadcast and then
    crossJoined against the full corpus, so cost is |queries|·|corpus|
    dot products and driver memory holds every query vector. This is
    the exact baseline / oracle twin for the ANN paths; for a large
    query set use :func:`lsh_cosine_topk` or :func:`ivf_cosine_topk`,
    whose candidate generation is a bucket equi-join. ``max_queries``
    enforces the contract with a bounded probe (``limit(n+1).count()``
    — never a full count of an unexpectedly huge side); pass ``None``
    to opt out when the caller has already sized the query side.

    The cosine is the JVM expression ``_dot(q,c)/(_norm(q)·_norm(c))``:
    no Python worker, and a zero-norm side divides to NULL, which sorts
    last. Its one registry caller (``llm_cosine_topk``, 5 queries) ran
    it at 0.43 core-s against 0.53 for the Arrow :func:`pair_cosine`;
    the candidate-pair paths keep the Arrow kernel.
    """
    if max_queries is not None:
        probe = queries.limit(max_queries + 1).count()
        if probe > max_queries:
            raise ValueError(
                f"cosine_topk is the brute-force exact path: its query "
                f"side is broadcast and crossJoined against the whole "
                f"corpus, but got > {max_queries} query rows. Use "
                f"lsh_cosine_topk/ivf_cosine_topk for large query sets, "
                f"or raise max_queries (or pass None) deliberately."
            )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qvec"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cvec"),
    )
    pairs = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    qv, cv = F.col("qvec"), F.col("cvec")
    cos = _dot(qv, cv) / (_norm(qv) * _norm(cv))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_bucket_assignments(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """(id, band_idx, band_val): sign-random-projection signature split
    into bands. A vector lands in ``n_bands`` buckets; similar vectors
    collide in ≥1 band with high probability.

    The n_planes projections are one dense (batch × dim) @ (dim ×
    n_planes) matmul — a vectorized Arrow-batched pandas_udf, the one
    place built-in expressions genuinely lose: the higher-order-function
    equivalent evaluates ~dim·n_planes interpreted closures per row
    (measured 3× slower at 2k rows, and the gap grows linearly with
    row count). The plane matrix is regenerated from a fixed seed in
    every task — deterministic with no RNG state shipped.

    ``dim`` pins the expected vector length (part of the index
    definition, like the seed). When None it is inferred as the
    MAJORITY length of each Arrow batch (the same vote ``kmeans_fit``
    uses) — a single corrupt short vector must not redefine the dim
    and silently nullify every real vector in its batch, which is
    what first-non-null inference would do. Either way a null or
    wrong-length vector yields a NULL signature (dropped by the
    downstream bucket equi-join) rather than hashing against a
    differently-shaped plane matrix."""
    assert n_planes % n_bands == 0
    bits_per_band = n_planes // n_bands

    @F.pandas_udf(ArrayType(LongType()))
    def _band_vals(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        lengths = vecs.map(lambda v: -1 if v is None else len(v))
        expect = dim
        if expect is None:
            valid_lens = lengths[lengths >= 0]
            if valid_lens.empty:
                return pd.Series([None] * len(vecs), dtype=object)
            # Most frequent length; ties break toward the LARGER
            # length (mode().iloc[0] picks the smallest, so a batch
            # evenly split between corrupt short vectors and real ones
            # would elect the corrupt dim and null every real vector).
            # Still per-batch best-effort: pin dim for production
            # indexes — it is part of the index definition.
            expect = int(
                valid_lens.value_counts().sort_index(ascending=False).idxmax()
            )
        ok = lengths == expect
        if not ok.any():
            return pd.Series([None] * len(vecs), dtype=object)
        m = np.stack(vecs[ok].to_numpy()).astype(np.float64)
        planes = np.random.RandomState(_SRP_SEED).standard_normal(
            (expect, n_planes)
        )
        bits = (m @ planes) >= 0
        weights = 1 << np.arange(bits_per_band, dtype=np.int64)
        vals = np.stack(
            [
                bits[:, b * bits_per_band : (b + 1) * bits_per_band] @ weights
                for b in range(n_bands)
            ],
            axis=1,
        )
        # (masked Series assignment of array values trips pandas'
        # length-broadcast check — build the object list directly)
        it = iter(vals)
        return pd.Series(
            [next(it) if flag else None for flag in ok.to_numpy()],
            dtype=object,
        )

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode_outer(_band_vals(F.col(vec_col))).alias(
            "band_idx", "band_val"
        ),
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    dim: int | None = None,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train an IVF codebook with Lloyd's algorithm, DataFrame-native.

    Seeding is deterministic and order-decorrelated: the k vectors
    with the smallest mod-prime scramble of their id (llm/export.py's
    portable shuffle) — reproducible across runs and cluster sizes,
    no RNG state. ``dim`` defaults to the seed vectors' length;
    null or length-mismatched embeddings are excluded from training
    (they would otherwise poison centroid means — the same guard as
    the SRP bucketing path). Each iteration is one assignment job
    (numpy-matmul pandas UDF, see below) plus one aggregation that
    computes the element-wise mean as ``dim`` per-position ``avg``
    columns — a single partial+final shuffle of k·dim doubles, no
    explode. The k×dim codebook is collected to the driver between
    iterations (index *metadata*, not data — bounded by the codebook
    size, never by the corpus). Empty clusters keep their previous
    centroid. Returns a (cluster_id, embedding) DataFrame usable as
    the ``centroids`` input of :func:`ivf_cosine_topk`.
    """
    import numpy as np

    from solana_etl_pipeline_spark.llm.export import shard_scramble

    spark = df.sparkSession
    valid = df.filter(F.col(vec_col).isNotNull())

    def _pick_seeds(frame: DataFrame) -> list:
        return (
            frame.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
            .orderBy(shard_scramble(F.col(id_col)), F.col(id_col))
            .limit(k)
            .collect()
        )

    if dim is None:
        probe = _pick_seeds(valid)
        if not probe:
            raise ValueError("kmeans_fit: no valid vectors to seed from")
        # majority length over the probe sample — a single corrupt
        # short vector that happens to sort first must not redefine
        # dim and silently filter out the whole real corpus. Ties
        # break toward the larger length (same rule as the SRP
        # majority vote above): most_common order on a tie is
        # insertion order, which would be arbitrary here.
        from collections import Counter

        counts = Counter(len(r.v) for r in probe)
        dim = max(counts.items(), key=lambda kv: (kv[1], kv[0]))[0]
    valid = valid.filter(F.size(F.col(vec_col)) == dim)
    seeds = _pick_seeds(valid)
    if not seeds:
        raise ValueError("kmeans_fit: no valid vectors to seed from")
    codebook = {i: list(r.v) for i, r in enumerate(seeds)}

    def _centroids_df(book: dict[int, list[float]]) -> DataFrame:
        # range + array-literal lookup, not createDataFrame-from-list:
        # a Python-list frame executes as a Python-RDD scan spawning a
        # worker per partition (~seconds per action on local[32]); this
        # stays a pure-JVM local relation
        vecs = [vec for _, vec in sorted(book.items())]
        return spark.range(len(vecs)).select(
            F.col("id").cast("int").alias("cluster_id"),
            F.element_at(
                F.lit(vecs).cast("array<array<double>>"), F.col("id").cast("int") + 1
            ).alias(vec_col),
        )

    vecs_only = valid.select(_as_double(F.col(vec_col)).alias("v"))
    for _ in range(n_iters):
        # Training fast path: one numpy matmul per partition against
        # the closure-captured codebook (the interpreted HOF dot in
        # ivf_assignments costs ~10× more per assignment — same
        # trade-off as the SRP bucketing matmul above), with the
        # per-cluster SUM reduced inside the same Arrow pass (classic
        # two-phase distributed k-means). The previous shape — emit a
        # per-row cluster_id, then groupBy with ``dim`` separate
        # ``avg(v[i])`` aggregate columns — spent ~3 s/iteration just
        # code-generating the 64-column aggregate and shipped every
        # vector back out of Python; the partial-sum shape ships
        # ≤ k×(dim+1) rows per partition and aggregates 3 flat
        # columns (map-side combined, k×dim final groups — index
        # metadata, never corpus-sized).
        cmat = np.array(
            [codebook[cid] for cid in sorted(codebook)], dtype=np.float64
        )
        cnorm = np.linalg.norm(cmat, axis=1)
        cnorm[cnorm == 0.0] = 1.0
        kk = cmat.shape[0]

        def _partials(batches):
            import numpy as np

            sums = np.zeros((kk, dim), dtype=np.float64)
            counts = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                # the `valid` pre-filter guarantees fixed-dim rows
                m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                vnorm = np.linalg.norm(m, axis=1)
                vnorm[vnorm == 0.0] = 1.0
                sims = (m @ cmat.T) / np.outer(vnorm, cnorm)
                # argmax returns the FIRST max — the lowest
                # cluster_id, matching ivf_assignments' tie-break
                cid = np.argmax(sims, axis=1)
                np.add.at(sums, cid, m)
                np.add.at(counts, cid, 1)
            present = np.nonzero(counts)[0]
            if len(present) == 0:
                return
            # pos -1 carries the member count; 0..dim-1 the coord sums
            yield pd.DataFrame({
                "cluster_id": np.repeat(present, dim + 1).astype("int32"),
                "pos": np.tile(np.arange(-1, dim), len(present)).astype(
                    "int32"
                ),
                "s": np.concatenate(
                    [
                        np.concatenate(([float(counts[c])], sums[c]))
                        for c in present
                    ]
                ),
            })

        cells = (
            vecs_only.mapInPandas(
                _partials, schema="cluster_id int, pos int, s double"
            )
            .groupBy("cluster_id", "pos")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        counts = {
            r.cluster_id: r.s for r in cells if r.pos == -1
        }
        new_sums: dict[int, list[float]] = {
            cid: [0.0] * dim for cid in counts
        }
        for r in cells:
            if r.pos >= 0:
                new_sums[r.cluster_id][r.pos] = r.s
        for cid, total in counts.items():
            # empty clusters keep their previous centroid (no row)
            codebook[cid] = [x / total for x in new_sums[cid]]
    return _centroids_df(codebook)


def _collect_centroids(centroids: DataFrame, vec_col: str):
    """Collect the k×dim coarse codebook (index METADATA — bounded by
    the codebook size, never the corpus) as ``(cids, cmat, cnorm)``,
    sorted by cluster_id, zero norms clamped to 1."""
    import numpy as np

    rows = sorted(
        centroids.select(
            "cluster_id", _as_double(F.col(vec_col)).alias("v")
        ).collect(),
        key=lambda r: r.cluster_id,
    )
    if not rows:
        raise ValueError("empty centroid table")
    cids = np.array([r.cluster_id for r in rows], dtype=np.int64)
    cmat = np.array([list(r.v) for r in rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0.0] = 1.0
    return cids, cmat, cnorm


def ivf_assignments(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    _collected=None,
) -> DataFrame:
    """(id, vec, cluster_id): assign each vector to its ``nprobe``
    nearest centroids by cosine (IVF coarse quantizer; rows fan out
    ×nprobe for nprobe > 1 — used on the query side to probe
    neighboring cells). In a real index the centroids come from
    k-means (see :func:`kmeans_fit`).

    The k×dim codebook is collected once (index METADATA, the same
    driver-side footprint ``kmeans_fit`` carries between iterations)
    and closure-captured into one Arrow-batched matmul per batch — a
    genuinely NARROW map stage. The previous formulation (crossJoin
    the centroid table, ``row_number`` per vector) fanned every corpus
    row ×k and then shuffled + sorted the whole corpus just to take
    the per-row argmax — at 100 TB that shuffle, not the math, was
    the cost. Ties break toward the lower cluster_id (stable argsort
    on -sim), matching the old window's (desc sim, asc cluster_id).

    Null / dim-mismatched vectors get NO assignment row (dropped by
    the generator, mirroring the SRP/PQ NULL-signature convention);
    zero-norm vectors assign deterministically (all-zero sims →
    cluster of the lowest id) and are left for the callers' own norm
    guards. ``_collected`` forwards an already-collected
    ``_collect_centroids`` triple so composed searches (corpus +
    query assignments, r16) run ONE collect job per codebook."""
    cids, cmat, cnorm = (
        _collected
        if _collected is not None
        else _collect_centroids(centroids, vec_col)
    )
    dim = cmat.shape[1]
    n = min(nprobe, len(cids))

    @F.pandas_udf(ArrayType(LongType()))
    def _topn(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        ok = vecs.map(lambda v: v is not None and len(v) == dim)
        if not ok.any():
            return pd.Series([None] * len(vecs), dtype=object)
        m = np.stack(vecs[ok].to_numpy()).astype(np.float64)
        vnorm = np.linalg.norm(m, axis=1)
        vnorm[vnorm == 0.0] = 1.0
        sims = (m @ cmat.T) / np.outer(vnorm, cnorm)
        # stable sort on -sim keeps the lower cluster index on ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        picked = cids[order]
        it = iter(picked)
        return pd.Series(
            [next(it) if flag else None for flag in ok.to_numpy()],
            dtype=object,
        )

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(_topn(_as_double(F.col(vec_col)))).alias("cluster_id"),
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: exact cosine only against corpus vectors in the
    query's ``nprobe`` nearest clusters. The cluster equi-join
    replaces the full scan — at 100 TB with C clusters the per-query
    cost drops ~(C/nprobe)× at the price of recall when a true
    neighbor lives across a centroid boundary; raising nprobe probes
    neighboring cells (only the query side fans out — the corpus
    keeps exactly one cell per vector)."""
    collected = _collect_centroids(centroids, vec_col)  # one collect
    ca = ivf_assignments(
        corpus, centroids, id_col, vec_col, _collected=collected
    ).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cvec"),
        "cluster_id",
    )
    qa = ivf_assignments(
        queries, centroids, id_col, vec_col, nprobe, _collected=collected
    ).select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
        "cluster_id",
    )
    # no pair-dedup needed: each corpus vector lives in exactly one
    # cell, so a (query, neighbor) pair matches at most one probed cell
    cand = qa.join(ca, "cluster_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = pair_cosine(F.col("qvec"), F.col("cvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a k-means codebook,
    compare cosine ONLY within a cluster, and flag every vector that
    duplicates (``round(cos, 6) >= threshold``) a smaller-id vector.

    Returns the duplicate verdicts ``(keep_id, drop_id, cos_sim)``
    with ``keep_id < drop_id``; the greedy survivor set is "all ids
    not appearing as drop_id" (a vector may appear in several rows
    when it duplicates several smaller ids — ``DISTINCT drop_id`` is
    the drop set). For transitive-cluster resolution over
    lower-threshold graphs use ``llm/cluster.py``'s connected
    components; at SemDeDup's near-1 thresholds the greedy rule and
    CC coincide in practice and the greedy rule is one join, not an
    iteration.

    Scale shape: the cluster equi-join bounds pair generation to
    Σ|cluster|² instead of n² — with k centroids sized so clusters
    hold ~n/k vectors, candidate volume is n²/k, and k grows with the
    corpus (the codebook stays a broadcast: k × dim doubles). Exact
    duplicates always share a cluster (identical vector ⇒ identical
    nearest centroid), so recall at cos=1.0 is exact; near-misses
    across a centroid boundary are the documented approximation, as
    in any IVF-bucketed scheme. Null/zero-norm vectors are dropped
    UP FRONT by an explicit norm guard: their cosine is NULL/NaN, and
    Spark orders NaN ABOVE every double — ``NaN >= threshold`` is
    TRUE — so without the guard a zero vector would "duplicate"
    every vector in its cluster (the class-6 NaN trap,
    COVERAGE.md).
    """
    assigned = (
        ivf_assignments(emb, centroids, id_col, vec_col)
        .select(
            F.col(id_col).alias("_id"),
            _as_double(F.col(vec_col)).alias("_v"),
            "cluster_id",
        )
        .filter(_norm(F.col("_v")) > 0)
    )
    from solana_etl_pipeline_spark.llm.dedup import _scoped_persist

    # both sides of the self-join read the assignment (a k-way
    # broadcast crossJoin + window per vector) — compute it once.
    # eager: the two join sides are concurrently-scheduled stages, and
    # a lazy persist lets them race to compute the cold cache (the
    # assignment would run twice — see _scoped_persist's docstring)
    assigned = _scoped_persist(assigned, eager=True)
    a = assigned.select(
        F.col("_id").alias("keep_id"), F.col("_v").alias("_va"), "cluster_id"
    )
    b = assigned.select(
        F.col("_id").alias("drop_id"), F.col("_v").alias("_vb"), "cluster_id"
    )
    cos = pair_cosine(F.col("_va"), F.col("_vb"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("keep_id", "drop_id", "cos_sim")
    )


def pq_fit(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Train a product-quantization codebook (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search"): the vector
    space is split into ``m`` contiguous subspaces of ``dim/m`` dims;
    each subspace gets its own ``ksub``-word codebook.

    Returned value is the codebook as a nested Python list
    ``[m][ksub][dim/m]`` — index METADATA (m·ksub·dsub doubles,
    bounded by the index definition, never by the corpus), the same
    driver-side footprint :func:`kmeans_fit` carries between Lloyd
    iterations.

    Seeding mirrors ``kmeans_fit``: the ``ksub`` vectors with the
    smallest mod-prime scramble of their id, sliced per subspace —
    deterministic, order-decorrelated, no RNG state. Each refinement
    iteration is ONE distributed pass: an Arrow-batched encode
    (argmin L2 per subspace against the broadcast-closure codebook)
    followed by a single groupBy (subspace, code) computing the
    element-wise mean as ``dim/m`` avg columns. Empty cells keep
    their previous codeword.

    Choosing ``m`` (measured,
    ``git show 6eb1dfe:tools/recall_harness.py`` @ 100 k, dim=64):
    m=8 (8-dim subspaces) reaches recall@5 ≈ 0.78 at shortlist 200;
    m=16 reaches 0.92 at the same shortlist for 2× the ADC lookup
    cost and 2× the stored code width. The default
    stays at the cheaper m=8 — raise m when the shortlist (see
    :func:`pq_cosine_topk`) stops buying recall.
    """
    import numpy as np

    from solana_etl_pipeline_spark.llm.export import shard_scramble

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    valid = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    seeds = (
        valid.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
        .orderBy(shard_scramble(F.col(id_col)), F.col(id_col))
        .limit(ksub)
        .collect()
    )
    if len(seeds) < ksub:
        raise ValueError(
            f"pq_fit: need >= {ksub} valid vectors to seed, got {len(seeds)}"
        )
    book = np.array(
        [
            [list(r.v[s * dsub : (s + 1) * dsub]) for r in seeds]
            for s in range(m)
        ],
        dtype=np.float64,
    )  # (m, ksub, dsub)

    for _ in range(n_iters):
        codes = _pq_encode_udf(book)
        # one exploded pass: (subspace, code, subvector) -> per-cell
        # element-wise mean as dsub avg columns (single partial+final
        # shuffle of m*ksub*dsub doubles, mirroring kmeans_fit)
        sub_structs = F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.element_at(F.col("_codes"), s + 1).alias("code"),
                    F.slice(F.col("_v"), s * dsub + 1, dsub).alias("sv"),
                )
                for s in range(m)
            ]
        )
        means = (
            valid.select(
                _as_double(F.col(vec_col)).alias("_v")
            )
            .withColumn("_codes", codes(F.col("_v")))
            .select(F.explode(sub_structs).alias("e"))
            .groupBy(F.col("e.sub").alias("sub"), F.col("e.code").alias("code"))
            .agg(*[F.avg(F.col("e.sv")[i]).alias(f"c{i}") for i in range(dsub)])
            .collect()
        )
        for r in means:
            book[r.sub][r.code] = [r[f"c{i}"] for i in range(dsub)]
    return book.tolist()


def _pq_encode_udf(book) -> "F.pandas_udf":
    """Arrow-batched PQ encoder: per subspace, argmin L2 against the
    closure-captured codebook (first-min tie — the lowest code id).
    Null / length-mismatched vectors yield NULL codes (dropped by the
    callers' joins) rather than encoding against a differently-shaped
    codebook."""
    import numpy as np

    cbook = np.asarray(book, dtype=np.float64)  # (m, ksub, dsub)
    m, _, dsub = cbook.shape
    dim = m * dsub

    @F.pandas_udf(ArrayType(LongType()))
    def _encode(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        ok = vecs.map(lambda v: v is not None and len(v) == dim)
        if not ok.any():
            return pd.Series([None] * len(vecs), dtype=object)
        mat = np.stack(vecs[ok].to_numpy()).astype(np.float64)
        parts = mat.reshape(len(mat), m, dsub)
        codes = np.empty((len(mat), m), dtype=np.int64)
        for s in range(m):
            # (n, ksub) squared distances; argmin keeps the first min
            d2 = ((parts[:, s, None, :] - cbook[s][None, :, :]) ** 2).sum(
                axis=2
            )
            codes[:, s] = np.argmin(d2, axis=1)
        it = iter(codes)
        return pd.Series(
            [next(it) if flag else None for flag in ok.to_numpy()],
            dtype=object,
        )

    return _encode


def _pq_encoded(
    corpus: DataFrame, codebook: list, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, cvec, codes): the stored form of a PQ index —
    invalid vectors (NULL codes) dropped up front."""
    encode = _pq_encode_udf(codebook)
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cvec"),
        )
        .withColumn("codes", encode(F.col("cvec")))
        .filter(F.col("codes").isNotNull())
    )


def _pq_lut_expr(codebook: list):
    """Per-row ADC lookup-table expression (expects a ``qvec`` column):
    ``lut[s][c] = <q_sub_s, codeword_{s,c}>`` — a JVM higher-order
    expression over the codebook literal."""
    import numpy as np

    cbook = np.asarray(codebook, dtype=np.float64)
    _, _, dsub = cbook.shape
    book_lit = F.lit(cbook.tolist()).cast("array<array<array<double>>>")
    return F.transform(
        book_lit,
        lambda sub_cb, s: F.transform(
            sub_cb,
            lambda cw: _dot(
                F.slice(F.col("qvec"), s * dsub + 1, dsub), cw
            ),
        ),
    )


def _pq_queries_with_lut(
    queries: DataFrame, codebook: list, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, qvec, lut): the query side of an ADC scan."""
    return queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
    ).withColumn("lut", _pq_lut_expr(codebook))


def _adc_ip_expr(m: int):
    """ADC inner-product estimate for a (lut, codes) pair row: the
    sum of ``m`` per-subspace LUT lookups. Shared by the shortlist
    ranking and the twin-margin guard test (which needs ranks BEYOND
    the shortlist cut)."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(1), F.lit(m)),
            lambda c, s: F.element_at(
                F.element_at(F.col("lut"), s.cast("int")),
                c.cast("int") + 1,
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _adc_rerank_topk(
    pairs: DataFrame, m: int, k: int, shortlist: int
) -> DataFrame:
    """ADC-score candidate pairs (query_id, qvec, lut, neighbor_id,
    cvec, codes), keep the per-query ADC shortlist, re-rank it with
    exact cosine. The shortlist ranks by raw ADC inner product —
    exact for cosine on unit-normalized corpora (the
    embedding-pipeline norm); for un-normalized vectors divide by the
    quantized norm (a second codeword-self-IP lookup table) before
    ranking."""
    est = _adc_ip_expr(m)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_ip"), F.asc("neighbor_id")
    )
    cand = (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_ip", est)
        .withColumn("adc_rn", F.row_number().over(w_adc))
        .filter(F.col("adc_rn") <= shortlist)
    )
    cos = pair_cosine(F.col("qvec"), F.col("cvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list,
    k: int = 5,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC search: corpus vectors are stored as ``m`` small codes;
    each query scores every code row with an asymmetric-distance
    lookup table, takes an ADC shortlist, and re-ranks it with exact
    cosine. Output shape matches :func:`cosine_topk`.

    Scale shape: the scan side touches only the code columns (m
    bytes-ish per vector instead of dim floats — the reason PQ exists
    at 100 TB), the per-candidate cost is m table lookups inside a
    JVM higher-order expression, and the only Python is the
    Arrow-batched encoder. The query side is broadcast under the same
    small-side contract as ``cosine_topk``; for a large query set or
    sub-scan latency, use :func:`ivfpq_cosine_topk` — probe cells
    first, ADC only within the probed cells.

    ``shortlist=200`` is measured, not guessed
    (``git show 6eb1dfe:tools/recall_harness.py``, 100 k corpus,
    recall@5 vs brute force): the
    shortlist is the binding recall knob — m=8 codebooks give
    0.32/0.51/0.78 at 50/100/200, m=16 gives 0.46/0.71/0.92 — while
    its cost (one 200-row exact re-rank per query) is negligible next
    to the code scan. Widen m before widening the shortlist further:
    doubling m doubles ADC lookup cost but buys more recall than
    doubling the shortlist.
    """
    import numpy as np

    m = np.asarray(codebook, dtype=np.float64).shape[0]
    enc = _pq_encoded(corpus, codebook, id_col, vec_col)
    q = F.broadcast(
        _pq_queries_with_lut(queries, codebook, id_col, vec_col)
    )
    return _adc_rerank_topk(q.crossJoin(enc), m, k, shortlist)


def _ivfpq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: list,
    id_col: str,
    vec_col: str,
    _collected=None,
) -> DataFrame:
    """(neighbor_id, cvec, cluster_id, codes): the stored form of an
    IVF-PQ index, built in ONE Arrow pass.

    Running :func:`ivf_assignments` and then :func:`_pq_encode_udf`
    costs two ArrowEvalPython stages, each shipping every corpus
    vector across the JVM↔Python boundary; fusing coarse assignment
    (matmul argmax) and PQ encoding (per-subspace argmin) into one
    ``mapInPandas`` halves that transfer — the index build touches
    each vector exactly once, which is the 100 TB contract for an
    index construction pass. Null / dim-mismatched vectors get no
    row (the ivf_assignments / PQ NULL conventions combined)."""
    import numpy as np

    cids, cmat, cnorm = (
        _collected
        if _collected is not None
        else _collect_centroids(centroids, vec_col)
    )
    cbook = np.asarray(codebook, dtype=np.float64)  # (m, ksub, dsub)
    m, _, dsub = cbook.shape
    dim = cmat.shape[1]
    if m * dsub != dim:
        raise ValueError(
            f"codebook covers {m * dsub} dims but centroids have {dim}"
        )

    def _index(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            ok = pdf["v"].map(
                lambda v: v is not None and len(v) == dim
            ).to_numpy()
            if not ok.any():
                continue
            mat = np.stack(pdf["v"][ok].to_numpy()).astype(np.float64)
            vnorm = np.linalg.norm(mat, axis=1)
            vnorm[vnorm == 0.0] = 1.0
            sims = (mat @ cmat.T) / np.outer(vnorm, cnorm)
            # stable FIRST max — the lowest cluster index, matching
            # ivf_assignments' tie-break
            cluster = cids[np.argmax(sims, axis=1)]
            parts = mat.reshape(len(mat), m, dsub)
            codes = np.empty((len(mat), m), dtype=np.int64)
            for s in range(m):
                d2 = (
                    (parts[:, s, None, :] - cbook[s][None, :, :]) ** 2
                ).sum(axis=2)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame({
                "neighbor_id": pdf["i"][ok].to_numpy(),
                "cvec": list(mat),
                "cluster_id": cluster,
                "codes": list(codes),
            })

    return corpus.select(
        F.col(id_col).alias("i"), _as_double(F.col(vec_col)).alias("v")
    ).mapInPandas(
        _index,
        schema="neighbor_id bigint, cvec array<double>, "
               "cluster_id bigint, codes array<bigint>",
    )


def ivfpq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: list,
    k: int = 5,
    shortlist: int = 200,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the composition production ANN indexes actually ship
    (Jégou et al. 2011 §V; FAISS ``IVFxPQy``): the IVF coarse
    quantizer bounds WHICH rows are scored (a cluster equi-join
    replaces the scan) and PQ bounds the COST PER ROW (m code lookups
    replace a dim-float dot product). The two approximations stack:
    at 100 TB with C cells, per-query work drops ~(C/nprobe)× from
    IVF and a further ~dim/m× from ADC, and the scan reads code
    columns instead of embeddings. Exact-cosine re-rank of the
    shortlist restores precision at the top.

    Same planted-twin invariant as each component alone: an exact
    copy shares the query's cell AND its codes, so it reaches the
    shortlist and wins rank 1 at cosine 1.0.

    Defaults are MEASURED, not guessed
    (``git show 6eb1dfe:tools/recall_harness.py``, 100 k
    planted-cluster corpus, 250 cells, recall@5 vs brute-force
    ground truth): ``nprobe=1`` caps the composed recall at the IVF
    component's 0.90 — a query near a cell boundary misses true
    neighbors assigned to the adjacent cell — while ``nprobe=2``
    lifts the coarse stage to 1.00 recall, after which the ADC
    shortlist is the binding knob (m=8: 0.52@100 → 0.80@200; m=16:
    0.71@100 → 0.92@200). Hence ``nprobe=2, shortlist=200``: one
    extra probed cell doubles the candidate set (still ~2·n/C rows,
    nothing at scan scale) and a 200-row exact re-rank per query is
    driver-trivial. Raise nprobe toward 4-8 when cells are small or
    recall floors matter more than latency.
    """
    import numpy as np

    m = np.asarray(codebook, dtype=np.float64).shape[0]
    collected = _collect_centroids(centroids, vec_col)  # one collect
    enc = _ivfpq_index(
        corpus, centroids, codebook, id_col, vec_col, _collected=collected
    )
    # lut rides each (query, probed-cell) row directly — joining a
    # lut-only frame back on query_id would square the nprobe fan-out
    qa = ivf_assignments(
        queries, centroids, id_col, vec_col, nprobe, _collected=collected
    )
    q = qa.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
        "cluster_id",
    ).withColumn("lut", _pq_lut_expr(codebook))
    # each corpus vector lives in exactly one cell, so a (query,
    # neighbor) pair matches at most one probed cell — no pair dedup
    pairs = q.join(enc, "cluster_id")
    return _adc_rerank_topk(pairs, m, k, shortlist)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: candidates = corpus vectors sharing an
    LSH band with the query; exact cosine ranks only those. Same output
    shape as ``cosine_topk`` (ranks may differ where recall < 1)."""
    qb = lsh_bucket_assignments(queries, id_col, vec_col, n_planes, n_bands)
    cb = lsh_bucket_assignments(corpus, id_col, vec_col, n_planes, n_bands)
    cand = (
        qb.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qvec"),
            "band_idx",
            "band_val",
        )
        .join(
            cb.select(
                F.col(id_col).alias("neighbor_id"),
                _as_double(F.col(vec_col)).alias("cvec"),
                "band_idx",
                "band_val",
            ),
            ["band_idx", "band_val"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = pair_cosine(F.col("qvec"), F.col("cvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
