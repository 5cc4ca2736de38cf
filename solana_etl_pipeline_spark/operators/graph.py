"""Fixed-iteration PageRank over an edge DataFrame.

The iterative-join complement of ``llm/cluster.py``'s connected
components: ranks nodes by stationary visit probability instead of
merely grouping them. Used over the bipartite part↔supplier graph
derived from ``lineitem`` (every edge is a real supply relationship),
but the operator is graph-agnostic.

Scale posture: each iteration is ONE equi-join (edges ⋈ ranks on the
source key) plus ONE hash aggregate on the destination key — the
textbook distributed PageRank shape. Degrees are computed once up
front and ride the edge rows, so no per-iteration degree join. The
rank frame stays (node, rank) — O(|V|), broadcast into the join —
and each iteration's ranks are local-checkpointed, so lineage stays
one iteration deep. Ranks are ROUNDED to 1e-9 after every
iteration: both engines then feed bit-identical inputs into the next
round, which keeps the cross-engine float drift below the final 1e-6
reporting grain no matter how many iterations run.

No dangling-node term is needed for the intended bipartite usage
(every edge endpoint has degree ≥ 1 by construction); callers feeding
directed graphs with sinks should add the teleport-mass correction
first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.plans.audit import record_pre_checkpoint

ITER_ROUND = 9  # per-iteration rounding grain (see module docstring)


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    dedup_edges: bool = True,
) -> DataFrame:
    """(src, dst) undirected edges -> (node, rank).

    Edges are symmetrized internally (each input row contributes both
    directions); duplicate input edges are collapsed so the degree
    matches the distinct neighbor count. Pass ``dedup_edges=False``
    when the input is already parallel-edge-free AND the symmetrized
    union cannot collide (e.g. a bipartite graph with disjoint src/dst
    namespaces) — it skips a full shuffle of the edge set, which on
    string node ids is the single most expensive stage.

    The degree table and the (node, rank) frame are hash-broadcast
    into their joins, so the edge set never shuffles, neither to pick
    up degrees nor inside the loop (only the map-side-combined
    contribution agg does). CONTRACT: |V| is dimension-bounded (e.g.
    bipartite over two dimension tables), so an O(|V|) frame fits in
    every executor.
    """
    # Both directions from ONE pass over ``edges`` (explode of a
    # 2-element array) — a union of two selects executes the upstream
    # edge plan twice before the checkpoint below can help (same
    # double-execution class as llm/cluster.py::connected_components,
    # measured there at 2× the whole candidate pipeline).
    und = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                ),
                F.struct(
                    F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    if dedup_edges:
        und = und.distinct()
    # Degree rides the edge rows: one window-free join now, zero
    # degree joins inside the loop. The symmetrized+distinct edge set
    # is materialized ONCE (localCheckpoint) — without it every
    # iteration's plan re-runs the distinct and the degree join from
    # the raw input, turning 3 iterations into ~3× redundant work and
    # an ever-deeper lineage (same discipline as llm/cluster.py:52).
    # The broadcast degree build is its OWN plan subtree, so without
    # the ``und`` checkpoint the symmetrized(+distinct) edge plan would
    # execute TWICE — once for the degree aggregate's broadcast build,
    # once for the probe side. Checkpointing ``und`` first keeps one
    # execution AND keeps the edge set unshuffled: degree aggregates
    # over the materialized partitions and broadcast-joins back
    # map-side. Interleaved 5-rep A/B at cpus=32
    # (``git show 232a0f9:tools/pagerank_ab.py``,
    # tools/logs/r17_pagerank_ab.out): shuffle join min 2.64 / med 3.00,
    # broadcast without the ``und`` checkpoint min 2.06 / med 2.65, this
    # form min 2.07 / med 2.52 — and at 100 TB it removes a full second
    # scan+distinct of the edge table. Once ``edged`` is checkpointed
    # nothing reads ``und`` again, so its blocks are released there:
    # one copy of the edge set stays pinned, not two.
    record_pre_checkpoint("pagerank:und", und)
    und = und.localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edged = und.join(F.broadcast(deg), "src")
    record_pre_checkpoint("pagerank:edged", edged)
    edged = edged.localCheckpoint(eager=True)
    # a checkpointed frame's plan is the LogicalRDD over its blocks
    und._jdf.queryExecution().logical().rdd().unpersist(False)

    nodes = edged.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()  # scalar probe: |V|, driver-trivial
    init = F.round(F.lit(1.0) / F.lit(float(n_nodes)), ITER_ROUND)
    ranks = nodes.select("node", init.alias("rank"))

    teleport = (1.0 - damping) / float(n_nodes)
    for _ in range(n_iter):
        rank_side = F.broadcast(ranks)
        contrib = (
            edged.join(rank_side, edged["src"] == rank_side["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = contrib.select(
            "node",
            F.round(
                F.lit(teleport) + F.lit(damping) * F.col("mass"),
                ITER_ROUND,
            ).alias("rank"),
        )
        record_pre_checkpoint("pagerank:iter_ranks", ranks)
        ranks = ranks.localCheckpoint(eager=False)  # truncate lineage
    return ranks
