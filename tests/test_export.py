"""Unit tests for training-set assembly: corpus filter funnel,
deterministic sharding and split assignment.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.export import (
    KNUTH,
    SHARD_P,
    assign_shards,
    corpus_filter,
    shard_key,
)


def _scramble(i: int) -> int:
    return ((i % SHARD_P) * (KNUTH % SHARD_P)) % SHARD_P

GOOD_EN = (
    "the quick brown fox jumps over the lazy dog and the cat sleeps "
    "in the warm sun while the birds sing of summer and the trees "
    "sway in the wind near the old wall by the river"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        Row(doc_id=0, source="a", text=GOOD_EN),
        Row(doc_id=1, source="a", text=GOOD_EN),  # exact dup of 0 -> dropped
        Row(doc_id=2, source="a", text="el la de " * 20),  # spanish
        Row(doc_id=3, source="b", text="x! 9? z."),  # junk quality
        Row(doc_id=4, source="b", text=GOOD_EN + " extra tail words"),
    ]
    return spark.createDataFrame(rows)


def test_corpus_filter_keeps_quality_english_survivors(corpus):
    kept = corpus_filter(corpus, "doc_id", "text", lang="en", min_quality=50.0)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert ids == {0, 4}  # dup 1 dropped, spanish 2 dropped, junk 3 dropped


def test_shard_key_matches_arithmetic_and_scrambles(spark):
    df = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    out = df.select(
        "doc_id", shard_key(F.col("doc_id"), 8).alias("shard")
    ).collect()
    for r in out:
        assert r.shard == _scramble(r.doc_id) % 8
    # the assignment must NOT degenerate to round-robin id % n —
    # the trap this design explicitly avoids (KNUTH ≡ 1 mod 8)
    assert any(r.shard != r.doc_id % 8 for r in out)


def test_assign_shards_positions_are_dense_and_ordered(spark):
    df = spark.range(0, 64).select(F.col("id").alias("doc_id"))
    out = assign_shards(df, "doc_id", n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    decorrelated = False
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.shard_pos)
        assert [r.shard_pos for r in rows] == list(range(1, len(rows) + 1))
        # intra-shard order follows the scramble value...
        scrs = [_scramble(r.doc_id) for r in rows]
        assert scrs == sorted(scrs)
        # ...and is decorrelated from plain id order in some shard
        ids = [r.doc_id for r in rows]
        decorrelated = decorrelated or ids != sorted(ids)
    assert decorrelated


def test_assign_splits_disjoint_exhaustive_stable(spark):
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.export import assign_splits

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(2000)]
    )
    out = assign_splits(docs, "doc_id", val_frac=0.1, test_frac=0.1)
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    # exhaustive and roughly proportional (hash thinning noise)
    assert sum(counts.values()) == 2000
    assert set(counts) == {"train", "val", "test"}
    assert 120 <= counts["val"] <= 280 and 120 <= counts["test"] <= 280
    # stability: a NEW id does not move any existing id's split
    more = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(2001)]
    )
    before = {r.doc_id: r.split for r in out.collect()}
    after = {
        r.doc_id: r.split
        for r in assign_splits(more, "doc_id", 0.1, 0.1).collect()
    }
    assert all(after[i] == s for i, s in before.items())


def test_assign_splits_rejects_bad_fractions(spark):
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.export import assign_splits

    docs = spark.createDataFrame([Row(doc_id=1, text="x")])
    with pytest.raises(ValueError):
        assign_splits(docs, "doc_id", val_frac=0.6, test_frac=0.5)
    with pytest.raises(ValueError):
        assign_splits(docs, "doc_id", val_frac=-0.1, test_frac=0.1)
