"""Near-dup cluster resolution: candidate pairs → connected components
→ canonical-keep — the step that turns pairwise dedup signals into an
actually-deduplicated corpus.

Pairwise output (MinHash/SimHash/embedding candidates) is not a dedup
decision: duplicates are transitive (A~B, B~C ⇒ drop two of three), so
the pairs graph must be resolved into components first, then one
canonical document kept per component.

Scale design: min-label propagation over the edge list — per iteration
one edge⋈label join and one min-aggregate, both shuffles proportional
to |edges| (which for near-dup graphs is ~|dup docs|, a small fraction
of the corpus). Converges in O(component diameter) rounds; dup
clusters are shallow (stars/cliques), so 3-5 rounds in practice, with
``localCheckpoint`` each round to truncate the growing lineage (the
standard guard for iterative DataFrame algorithms — without it the
plan doubles every round and the driver OOMs long before the data
does). The final keep is a broadcast-or-shuffle left join of labels
onto the corpus — never a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.plans.audit import record_pre_checkpoint


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint: bool = True,
) -> DataFrame:
    """Resolve an undirected edge list into components.

    Returns ``(id, component)`` for every vertex that appears in an
    edge, with ``component`` = the smallest vertex id reachable from
    ``id``. Raises if ``max_iter`` rounds don't converge (a dedup
    graph that deep signals a pathological threshold, not a bigger
    loop budget).
    """
    # Both edge directions from ONE pass over ``pairs``: a union of
    # two selects executes the upstream plan twice, and the pair
    # generator feeding this is typically expensive and unpersisted
    # (the r11 third-decade decomposition measured the MinHash
    # candidate plan running 2× inside the eager checkpoint below —
    # the whole survivors pipeline at 10 M docs was ~680 s integrated
    # vs ~350 s with single-execution stages). Exploding a 2-element
    # array duplicates each row plan-side instead: same edge set, one
    # execution.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("src"), F.col(dst).alias("dst")
                    ),
                    F.struct(
                        F.col(dst).alias("src"), F.col(src).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .dropDuplicates(["src", "dst"])
    )
    if checkpoint:
        # materialize once: every iteration (and its convergence probe)
        # re-reads edges — without this, an expensive upstream pair
        # generator (MinHash-LSH) recomputes per round
        record_pre_checkpoint("cc:edges", edges)
        edges = edges.localCheckpoint(eager=True)

    # Round 1 folded into initialization: with identity starting labels
    # the edge⋈label join is a no-op, so the first propagation is just
    # min(self, neighbors) — one groupBy, no join.
    labels = (
        edges.select(F.col("src").alias("id"), F.col("dst").alias("component"))
        .union(
            edges.select(F.col("src").alias("id"), F.col("src").alias("component"))
        )
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
    if checkpoint:
        record_pre_checkpoint("cc:init_labels", labels)
        labels = labels.localCheckpoint(eager=False)

    # Convergence probe: per vertex the label is min(self ∪ neighbors),
    # so it only ever DECREASES — the label sum is strictly monotone
    # until fixpoint, and one scalar aggregate per round replaces a
    # new-vs-old join. decimal(38,0) so huge id sums can't overflow.
    def _label_sum(df: DataFrame) -> int:
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        # each vertex adopts the min of its own label and its
        # neighbors' labels
        neighbor_labels = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
        )
        new_labels = (
            labels.select("id", "component")
            .union(neighbor_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        if checkpoint:
            # eager=False: the probe below is the materializing action,
            # so checkpoint + convergence test cost ONE job per round
            record_pre_checkpoint("cc:iter_labels", new_labels)
            new_labels = new_labels.localCheckpoint(eager=False)
        cur_sum = _label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def canonical_keep(
    corpus: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """One survivor per component: the smallest id (== its component
    label); documents in no component survive untouched. Left join +
    filter — set semantics, no window, no collect."""
    return (
        corpus.join(
            components.withColumnRenamed("id", id_col), id_col, "left"
        )
        .filter(
            F.col("component").isNull() | (F.col("component") == F.col(id_col))
        )
        .drop("component")
    )


def near_dup_dedup(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """End-to-end: candidate pairs → components → canonical survivors."""
    return canonical_keep(
        corpus, connected_components(pairs, src=src, dst=dst), id_col
    )
