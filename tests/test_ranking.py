"""Unit tests for TF-IDF / BM25 ranking on a hand-built corpus with
known term statistics, plus null/empty-text robustness.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from solana_etl_pipeline_spark.llm.ranking import (
    BM25_B,
    BM25_K1,
    bm25_topk,
    tfidf_top_terms,
)


def idf_smooth(n_docs: int, df: int) -> float:
    """Plain-Python reference of the smoothed idf."""
    return math.log((n_docs + 1.0) / (df + 1.0)) + 1.0


def idf_bm25(n_docs: int, df: int) -> float:
    """Plain-Python reference of the BM25 idf."""
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


@pytest.fixture(scope="module")
def corpus(spark):
    """4 docs, engineered stats:

    - 'common' appears in every doc (df=4),
    - 'rare' only in doc 0 (df=1), three times (tf=3),
    - 'pair' in docs 1 and 2 (df=2).
    """
    rows = [
        Row(doc_id=0, text="rare rare rare common"),
        Row(doc_id=1, text="pair common common"),
        Row(doc_id=2, text="pair common"),
        Row(doc_id=3, text="common"),
    ]
    return spark.createDataFrame(rows)


def test_tfidf_rare_term_wins(corpus):
    out = tfidf_top_terms(corpus, "doc_id", "text", k=2)
    rows = {(r.doc_id, r.rank): (r.term, r.tfidf) for r in out.collect()}
    # doc 0: rare (tf=3, df=1) must outrank common (tf=1, df=4).
    assert rows[(0, 1)][0] == "rare"
    assert rows[(0, 2)][0] == "common"
    expect_rare = round(3 * idf_smooth(4, 1), 4)
    assert rows[(0, 1)][1] == pytest.approx(expect_rare, abs=1e-4)
    # doc 3 has a single term; no rank-2 row exists.
    assert (3, 1) in rows and (3, 2) not in rows


def test_tfidf_tie_break_is_term_ascending(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="beta alpha")]
    )  # equal tf and df -> tie broken alphabetically
    out = tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    assert [r.term for r in sorted(out, key=lambda r: r.rank)] == [
        "alpha",
        "beta",
    ]


def test_bm25_exact_score_and_order(corpus):
    out = bm25_topk(corpus, ["rare", "pair"], "doc_id", "text", k=4)
    got = {r.doc_id: (r.rank, r.bm25) for r in out.collect()}
    # Docs without any query term (doc 3) are absent.
    assert set(got) == {0, 1, 2}

    dls = {0: 4, 1: 3, 2: 2}
    avgdl = (4 + 3 + 2 + 1) / 4.0

    def contrib(tf, df, dl):
        idf = idf_bm25(4, df)
        return (
            idf
            * (tf * (BM25_K1 + 1.0))
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
        )

    expect = {
        0: contrib(3, 1, dls[0]),
        1: contrib(1, 2, dls[1]),
        2: contrib(1, 2, dls[2]),
    }
    for doc, score in expect.items():
        assert got[doc][1] == pytest.approx(round(score, 4), abs=1e-4)
    order = [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][0])]
    assert order == sorted(expect, key=lambda d: -expect[d])


def test_ranking_tolerates_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha beta"),
            Row(doc_id=1, text=None),
            Row(doc_id=2, text=""),
        ]
    )
    tfidf = tfidf_top_terms(df, "doc_id", "text", k=3)
    assert {r.doc_id for r in tfidf.collect()} == {0}
    bm25 = bm25_topk(df, ["alpha"], "doc_id", "text", k=5)
    assert [r.doc_id for r in bm25.collect()] == [0]


def test_idf_twins_match_definitions():
    assert idf_smooth(10, 1) == pytest.approx(math.log(11 / 2) + 1)
    assert idf_bm25(10, 1) == pytest.approx(math.log((9.5 / 1.5) + 1))


# ------------------------------------------- rounding-boundary canary

# COVERAGE.md convention 8: tfidf/bm25 go through java.lang.Math.log
# vs the oracle's libm — not ULP-identical. The parity contract is
# that every emitted score is rounded to a 1e-4 grain far above the
# ~1e-15 relative ulp, so a last-ulp divergence cannot flip a rounded
# value UNLESS a raw score sits essentially ON a rounding boundary
# (x.5 at the grain). This canary asserts no driver-fixture score
# does: a fixture regeneration that lands a score on the boundary
# fails HERE, loudly, instead of flaking the oracle hash comparison.
_GRAIN_EPS = 1e-6  # distance from .5 in grain units; ulp noise ~1e-11


def _assert_off_boundary(raw_scores, digits):
    scale = 10**digits
    for s in raw_scores:
        frac = (s * scale) % 1.0
        assert abs(frac - 0.5) > _GRAIN_EPS, (
            f"raw score {s!r} sits within {_GRAIN_EPS} grain-units of "
            f"the 1e-{digits} rounding boundary — regenerate or adjust "
            f"the fixture (COVERAGE.md convention 8)"
        )


@pytest.mark.parametrize(
    "fixture_sf",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01"],
)
def test_tfidf_bm25_scores_off_rounding_boundary(spark, fixture_sf):
    from solana_etl_pipeline_spark.queries.ranking import BM25_QUERY
    from solana_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, fixture_sf, "documents")
    tfidf = tfidf_top_terms(docs, "doc_id", "text", k=3, include_raw=True)
    _assert_off_boundary([r["_raw"] for r in tfidf.collect()], 4)
    bm25 = bm25_topk(
        docs, BM25_QUERY, "doc_id", "text", k=20, include_raw=True
    )
    _assert_off_boundary([r["_raw"] for r in bm25.collect()], 4)
