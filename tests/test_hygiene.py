"""Unit tests for corpus hygiene: eval-set decontamination,
repetition rules, domain-mixture sampling, and chunking — crafted
inputs with hand-computed expectations (the registry queries are
additionally oracle-checked by the driver-mirror parity gate).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.llm.curate import chunk_documents
from solana_etl_pipeline_spark.llm.decontaminate import decontaminate
from solana_etl_pipeline_spark.llm.mixture import mixture_plan, mixture_sample
from solana_etl_pipeline_spark.llm.textstats import (
    _py_word_ngrams,
    repetition_report,
)
from solana_etl_pipeline_spark.schemas import FIXTURE_TABLES
from solana_etl_pipeline_spark.sources import load_table
from tests.oracle_utils import assert_matches_oracle


# --- word n-grams --------------------------------------------------------


def test_word_ngrams_ordered_with_duplicates():
    assert _py_word_ngrams("a b a b", 2) == ["a b", "b a", "a b"]


def test_word_ngrams_short_doc_yields_whole_text():
    assert _py_word_ngrams("only two", 5) == ["only two"]


# --- decontamination -----------------------------------------------------


@pytest.fixture(scope="module")
def decon_frames(spark):
    eval_df = spark.createDataFrame(
        [Row(doc_id=100, text="alpha beta gamma delta epsilon zeta")]
    )
    train = spark.createDataFrame(
        [
            # verbatim copy of the eval doc: fully contaminated
            Row(doc_id=0, text="alpha beta gamma delta epsilon zeta"),
            # shares one 3-gram window out of its four
            Row(doc_id=1, text="alpha beta gamma nine ten eleven"),
            # disjoint vocabulary: clean
            Row(doc_id=2, text="uno dos tres cuatro cinco seis"),
        ]
    )
    return train, eval_df


def test_decontaminate_flags_verbatim_copy(spark, decon_frames):
    train, eval_df = decon_frames
    out = {
        r.doc_id: r
        for r in decontaminate(
            train, eval_df, n=3, threshold=0.5
        ).collect()
    }
    assert out[0].n_grams == 4 and out[0].n_hit == 4
    assert out[0].contamination == 1.0 and out[0].contaminated
    assert out[1].n_grams == 4 and out[1].n_hit == 1
    assert out[1].contamination == 0.25 and not out[1].contaminated
    assert out[2].n_hit == 0 and not out[2].contaminated


# --- repetition rules ----------------------------------------------------


def test_repetition_report_hand_computed(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b a b a b")])
    [row] = repetition_report(df).collect()
    # bigrams: [a b, b a, a b, b a, a b] -> top 'a b' x3 of 5
    assert row.n_bigrams == 5 and row.top_bigram_count == 3
    assert row.top_bigram_frac == 0.6
    # trigrams: [a b a, b a b, a b a, b a b] -> 2 of 4 duplicated
    assert row.dup_trigram_frac == 0.5


def test_repetition_twins_agree_on_fixture_and_edges(spark, sf_dir, tmp_path):
    """repetition_report ≡ the ``llm_repetition_rules`` DuckDB oracle
    on the fixture corpus plus crafted edge docs (short, single-word,
    repeated, empty-ish, null), through the same QuerySpec the driver
    runs."""
    import duckdb

    from solana_etl_pipeline_spark.queries import QUERIES

    crafted = spark.createDataFrame(
        [
            (doc_id, text, "en", "crafted", len(text or ""))
            for doc_id, text in [
                (9001, "solo"),
                (9002, "two words"),
                (9003, "spam spam spam spam"),
                (9004, " leading and trailing "),
                (9005, ""),
                (9006, None),
            ]
        ],
        FIXTURE_TABLES["documents"],
    )
    docs_dir = str(tmp_path)
    load_table(spark, sf_dir, "documents").unionByName(crafted).write.parquet(
        f"{docs_dir}/documents.parquet"
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{docs_dir}/documents.parquet/*.parquet')"
        )
        spec = QUERIES["llm_repetition_rules"]
        assert_matches_oracle(
            spec.spark(spark, docs_dir), con, spec.oracle,
            name="llm_repetition_rules",
        )
    finally:
        con.close()


def test_repetition_report_unique_text_scores_zero_dup(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="one two three four five")]
    )
    [row] = repetition_report(df).collect()
    assert row.top_bigram_count == 1
    assert row.dup_trigram_frac == 0.0


# --- chunking ------------------------------------------------------------


def test_chunk_documents_windows_and_overlap(spark):
    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame([Row(doc_id=7, text=" ".join(words))])
    rows = sorted(
        chunk_documents(df, chunk_size=4, stride=3).collect(),
        key=lambda r: r.chunk_id,
    )
    # starts 1, 4, 7, 10 -> lengths 4, 4, 4, 1
    assert [r.chunk_tokens for r in rows] == [4, 4, 4, 1]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w3 w4 w5 w6"  # 1-token overlap
    assert rows[3].chunk_text == "w9"
    # every token appears in at least one chunk
    covered = set(" ".join(r.chunk_text for r in rows).split())
    assert covered == set(words)


def test_chunk_documents_rejects_bad_params(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="a b")])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)
    with pytest.raises(ValueError):
        chunk_documents(df, stride=-1)


# --- mixture sampling ----------------------------------------------------


@pytest.fixture(scope="module")
def mixture_docs(spark):
    # Two sources, 9:1 token skew. Temperature 0.5 should up-weight
    # the small source relative to proportional sampling.
    rows = [
        Row(doc_id=i, source="big", text="tok " * 20) for i in range(90)
    ] + [
        Row(doc_id=1000 + i, source="small", text="tok " * 20)
        for i in range(10)
    ]
    return spark.createDataFrame(rows)


def test_mixture_plan_upweights_small_source(spark, mixture_docs):
    plan = {
        r.source: r for r in mixture_plan(mixture_docs, token_budget=400).collect()
    }
    assert plan["big"].tokens == 90 * 20
    # sqrt weighting: small source keep-rate strictly higher
    assert plan["small"].rate_micro > plan["big"].rate_micro
    assert 0 < plan["big"].rate_micro <= 1_000_000


def test_mixture_sample_is_deterministic_and_partition_invariant(
    spark, mixture_docs
):
    kept_a = sorted(
        r.doc_id
        for r in mixture_sample(mixture_docs, token_budget=400).collect()
    )
    kept_b = sorted(
        r.doc_id
        for r in mixture_sample(
            mixture_docs.repartition(7), token_budget=400
        ).collect()
    )
    assert kept_a == kept_b and kept_a  # non-empty, reproducible


def test_mixture_sample_respects_rates(spark, mixture_docs):
    plan = {
        r.source: r.rate_micro
        for r in mixture_plan(mixture_docs, token_budget=400).collect()
    }
    kept = (
        mixture_sample(mixture_docs, token_budget=400)
        .groupBy("source")
        .count()
        .collect()
    )
    totals = {"big": 90, "small": 10}
    for row in kept:
        rate = plan[row.source] / 1e6
        # hash thinning has binomial noise; bound it loosely
        assert row["count"] <= totals[row.source]
        assert abs(row["count"] / totals[row.source] - rate) < 0.35


def test_mixture_sample_keeps_everything_under_large_budget(
    spark, mixture_docs
):
    kept = mixture_sample(mixture_docs, token_budget=10**9)
    assert kept.count() == mixture_docs.count()


# --- unigram LM scoring --------------------------------------------------


def test_unigram_lm_hand_computed(spark):
    import math

    from solana_etl_pipeline_spark.llm.lm import unigram_fit, unigram_score

    ref = spark.createDataFrame(
        [Row(doc_id=1, text="a a b")]  # counts: a=2, b=1; N=3, V=2
    )
    vocab = unigram_fit(ref)
    assert {(r.c) for r in vocab.collect()} == {2, 1}
    target = spark.createDataFrame(
        [
            Row(doc_id=10, text="a b"),  # p(a)=3/5, p(b)=2/5
            Row(doc_id=11, text="zz"),  # OOV: p=1/5
        ]
    )
    got = {
        r.doc_id: (r.n_tokens, r.avg_neg_logprob)
        for r in unigram_score(target, vocab).collect()
    }
    exp_10 = round(-(math.log(3 / 5) + math.log(2 / 5)) / 2, 6)
    exp_11 = round(-math.log(1 / 5), 6)
    assert got[10] == (2, exp_10)
    assert got[11] == (1, exp_11)
    # fluent (in-vocab) text scores LOWER than gibberish
    assert got[10][1] < got[11][1]


def test_unigram_score_unscoped_vocab_bounded(spark):
    """Unscoped unigram_score calls (the registry/driver path, which
    never opens a dedup_cache_scope) must not accumulate persisted
    vocab DataFrames: each call releases the previous unscoped vocab,
    so at most one stale vocab stays cached (ADVICE r5)."""
    from solana_etl_pipeline_spark.llm import lm
    from solana_etl_pipeline_spark.llm.dedup import dedup_cache_scope

    df1 = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(6)],
        "doc_id long, text string",
    )
    df2 = spark.createDataFrame(
        [(i, "delta epsilon") for i in range(6)],
        "doc_id long, text string",
    )

    lm.unigram_score(df1, lm.unigram_fit(df1)).count()
    first = lm._UNSCOPED_VOCAB[0]
    assert first.storageLevel.useMemory or first.storageLevel.useDisk

    # distinct-plan refit: the previous unscoped vocab is released,
    # only the new one stays cached
    lm.unigram_score(df2, lm.unigram_fit(df2)).count()
    second = lm._UNSCOPED_VOCAB[0]
    assert second is not first
    assert not (first.storageLevel.useMemory or first.storageLevel.useDisk)
    assert second.storageLevel.useMemory or second.storageLevel.useDisk

    # plan-IDENTICAL refit (bench reps): Spark caches by analyzed-plan
    # equality, so old and new share one cache entry — the release must
    # happen before the re-persist or the shared entry would be evicted
    # and the fresh vocab left uncached
    lm.unigram_score(df2, lm.unigram_fit(df2)).count()
    third = lm._UNSCOPED_VOCAB[0]
    assert len(lm._UNSCOPED_VOCAB) == 1
    assert third.storageLevel.useMemory or third.storageLevel.useDisk

    # a SCOPED call must not touch the unscoped slot (its vocab is
    # released by the scope exit instead)
    with dedup_cache_scope():
        lm.unigram_score(df1, lm.unigram_fit(df1)).count()
    assert lm._UNSCOPED_VOCAB[0] is third
    assert third.storageLevel.useMemory or third.storageLevel.useDisk
    third.unpersist(blocking=True)
    lm._UNSCOPED_VOCAB.clear()


@pytest.mark.parametrize(
    "fixture_sf",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01"],
)
def test_lm_scores_off_rounding_boundary(spark, fixture_sf):
    """COVERAGE.md convention 8 canary for the unigram LM: no emitted
    avg_neg_logprob on the driver fixtures may sit essentially on its
    1e-6 rounding boundary, where a last-ulp ln() divergence between
    engines could flip the rounded value. Mirrors the registered
    llm_lm_quality_score composition (train-split fit, score all)."""
    from solana_etl_pipeline_spark.llm import lm
    from solana_etl_pipeline_spark.llm.export import assign_splits
    from solana_etl_pipeline_spark.queries.hygiene import (
        LM_TEST_FRAC,
        LM_VAL_FRAC,
    )
    from solana_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, fixture_sf, "documents")
    split_docs = assign_splits(
        docs, "doc_id", val_frac=LM_VAL_FRAC, test_frac=LM_TEST_FRAC
    )
    vocab = lm.unigram_fit(split_docs.filter(F.col("split") == "train"))
    scored = lm.unigram_score(docs, vocab, include_raw=True)
    eps = 1e-6  # grain units; ulp noise is ~1e-9 at the 1e-6 grain
    for r in scored.select("_raw").collect():
        frac = (r["_raw"] * 1e6) % 1.0
        assert abs(frac - 0.5) > eps, (
            f"raw LM score {r['_raw']!r} sits on the 1e-6 rounding "
            "boundary (COVERAGE.md convention 8)"
        )
    lm._UNSCOPED_VOCAB and lm._UNSCOPED_VOCAB[0].unpersist(blocking=True)
    lm._UNSCOPED_VOCAB.clear()


# --------------------------------------------------- DSIR selection


def test_dsir_identical_pools_weigh_zero(spark):
    """When raw and target hold the same texts, every bucket's target
    and raw probabilities are identical floats, so each log-ratio is
    exactly 0.0 and every document weighs 0 — no float tolerance
    needed."""
    from solana_etl_pipeline_spark.llm.dsir import importance_weights

    texts = ["alpha beta gamma", "delta epsilon", "alpha delta"]
    raw = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id bigint, text string",
    )
    target = spark.createDataFrame(
        [Row(doc_id=100 + i, text=t) for i, t in enumerate(texts)],
        "doc_id bigint, text string",
    )
    out = importance_weights(raw, target).collect()
    assert len(out) == 3
    for r in out:
        assert r.log_weight == 0.0


def test_dsir_target_like_doc_outweighs_unlike(spark):
    """A raw doc sharing the target's vocabulary must weigh strictly
    more than a raw doc with no target overlap."""
    from solana_etl_pipeline_spark.llm.dsir import importance_weights

    target = spark.createDataFrame(
        [Row(doc_id=100, text="quality prose about spark engines")],
        "doc_id bigint, text string",
    )
    raw = spark.createDataFrame(
        [
            Row(doc_id=0, text="quality prose about spark engines"),
            Row(doc_id=1, text="zzz qqq xxx vvv kkk"),
        ],
        "doc_id bigint, text string",
    )
    w = {r.doc_id: r.log_weight for r in importance_weights(raw, target).collect()}
    assert w[0] > w[1]


def test_dsir_gram_counts_include_bigrams(spark):
    """n_grams = unigrams + bigrams = 2*len - 1; a single-token doc
    contributes exactly one gram (the bigram guard — Spark's sequence
    would otherwise flip descending and fabricate indexes)."""
    from solana_etl_pipeline_spark.llm.dsir import importance_weights

    target = spark.createDataFrame(
        [Row(doc_id=100, text="x")], "doc_id bigint, text string"
    )
    raw = spark.createDataFrame(
        [Row(doc_id=0, text="a b c"), Row(doc_id=1, text="solo")],
        "doc_id bigint, text string",
    )
    n = {r.doc_id: r.n_grams for r in importance_weights(raw, target).collect()}
    assert n[0] == 5  # 3 unigrams + 2 bigrams
    assert n[1] == 1


def test_dsir_deterministic(spark, sf_dir):
    from solana_etl_pipeline_spark.queries import QUERIES

    a = QUERIES["llm_dsir_select"].spark(spark, sf_dir).collect()
    b = QUERIES["llm_dsir_select"].spark(spark, sf_dir).collect()
    assert a == b


@pytest.mark.parametrize(
    "fixture_sf",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01"],
)
def test_dsir_weights_off_rounding_boundary(spark, fixture_sf):
    """COVERAGE.md convention 8 canary for the DSIR weight: no raw
    log_weight on the driver fixtures may sit essentially on its 1e-6
    rounding boundary (mirrors the LM canary above)."""
    from solana_etl_pipeline_spark.llm.dsir import importance_weights
    from solana_etl_pipeline_spark.queries.hygiene import (
        DSIR_BUCKETS,
        EVAL_MOD,
        EVAL_REM,
    )
    from solana_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, fixture_sf, "documents")
    is_target = F.pmod(F.col("doc_id"), F.lit(EVAL_MOD)) == EVAL_REM
    scored = importance_weights(
        docs.filter(~is_target),
        docs.filter(is_target),
        n_buckets=DSIR_BUCKETS,
        include_raw=True,
    )
    eps = 1e-6
    for r in scored.select("_raw").collect():
        frac = (r["_raw"] * 1e6) % 1.0
        assert abs(frac - 0.5) > eps, (
            f"raw DSIR weight {r['_raw']!r} sits on the 1e-6 rounding "
            "boundary (COVERAGE.md convention 8)"
        )


def test_gopher_rules_crafted(spark):
    """Each Gopher rule flips on a crafted doc: word count, mean word
    length, symbol ratio, alpha ratio, stopword floor."""
    from pyspark.sql import Row

    from solana_etl_pipeline_spark.llm.textstats import (
        gopher_quality_report,
    )

    passing = ("the quick brown fox and " * 12 + "a dog is here now").strip()
    rows = [
        Row(i=0, text=passing),                      # all rules pass
        Row(i=1, text="the a short doc is here"),    # < 50 words
        Row(i=2, text=("the a " + "x " * 60).strip()),   # mean len < 3
        Row(i=3, text=passing + " " + "#" * 1 + " ###### ## ## ###"),
        Row(i=4, text=("the a " + "9 " * 60).strip()),   # alpha < 0.8
        Row(i=5, text=("zz " * 60).strip()),             # no stopwords
        Row(i=6, text=None),                             # null text
    ]
    report = gopher_quality_report(F.col("text"))
    got = {
        r.i: r
        for r in spark.createDataFrame(rows)
        .select("i", *[e.alias(n) for n, e in report.items()])
        .collect()
    }
    assert got[0].gopher_pass == 1, got[0]
    assert got[1].ok_word_count == 0 and got[1].gopher_pass == 0
    assert got[2].ok_mean_word_len == 0 and got[2].gopher_pass == 0
    assert got[3].ok_symbol_ratio == 0 and got[3].gopher_pass == 0
    assert got[4].ok_alpha_ratio == 0 and got[4].gopher_pass == 0
    assert got[5].ok_stopwords == 0 and got[5].gopher_pass == 0
    # null text -> [''] one empty word; every floor rule fails, none
    # of the ratios divide by zero
    assert got[6].n_words == 1 and got[6].gopher_pass == 0
