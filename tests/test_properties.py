"""Property-based invariants (SURVEY.md §5): algebraic laws that must
hold for ANY input frame — filter-pushdown equivalence, union count
additivity, dedup idempotence, cast-coerce totality.

Hypothesis generates the row sets; one shared local session executes
them. Examples are kept small (Spark job latency dominates), but the
generators cover nulls, negatives, empty strings, and duplicates.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("v", DoubleType(), True),
        StructField("s", StringType(), True),
    ]
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       width=32)),
        st.one_of(st.none(), st.sampled_from(["", "a", "b", "12x", "7"])),
    ),
    min_size=0,
    max_size=25,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame(
        [Row(k=k, v=v, s=s) for k, v, s in data], schema=SCHEMA
    )


@_SETTINGS
@given(data=rows)
def test_filter_commutes_with_projection(spark, data):
    """filter→select ≡ select→filter (the law behind pushdown)."""
    df = _df(spark, data)
    a = df.filter(F.col("k") > 0).select("k", "v").collect()
    b = df.select("k", "v").filter(F.col("k") > 0).collect()

    def key(t):
        return tuple((x is None, x) for x in t)

    assert sorted(map(tuple, a), key=key) == sorted(map(tuple, b), key=key)


@_SETTINGS
@given(data1=rows, data2=rows)
def test_union_count_additivity(spark, data1, data2):
    df1, df2 = _df(spark, data1), _df(spark, data2)
    assert df1.unionByName(df2).count() == df1.count() + df2.count()


@_SETTINGS
@given(data=rows)
def test_dedup_idempotent(spark, data):
    df = _df(spark, data)
    once = df.dropDuplicates(["k"])
    twice = once.dropDuplicates(["k"])
    assert once.count() == twice.count()
    assert once.count() == df.select("k").distinct().count()


@_SETTINGS
@given(data=rows)
def test_cast_coerce_never_throws_and_nulls_bad(spark, data):
    """F4: try_cast is total — dirty strings become null, never errors
    (pd.to_numeric(errors='coerce') parity)."""
    df = _df(spark, data)
    out = df.select(
        "s", F.col("s").try_cast("bigint").alias("n")
    ).collect()
    for r in out:
        if r.s in ("7",):
            assert r.n == 7
        elif r.s in ("", "a", "b", "12x") or r.s is None:
            assert r.n is None


@_SETTINGS
@given(data=rows)
def test_exact_dedup_groups_partition_input(spark, data):
    """llm exact dedup: group sizes sum to input size; survivors are
    group minima."""
    from solana_etl_pipeline_spark.llm.dedup import exact_dedup_groups

    df = _df(spark, data).withColumn(
        "sid", F.monotonically_increasing_id()
    )
    groups = exact_dedup_groups(
        df.withColumn("s", F.coalesce("s", F.lit("<null>"))), ["s"], "sid"
    ).collect()
    assert sum(g.n_copies for g in groups) == df.count()


_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.sampled_from(
                list("abc .!9@:/<>-_") + ["\t", "\n"]
            ),
            max_size=40,
        ),
        st.sampled_from(
            [
                "a@b.io x",
                "see https://t.co/z now",
                "5Kd3NBUAdUnhyzenEwVLy9pBKxSwXvE9FMPyR4UK",
                "<EMAIL> already",
            ]
        ),
    ),
    min_size=0,
    max_size=12,
)


@_SETTINGS
@given(texts=_texts)
def test_redact_pii_is_idempotent_and_total(spark, texts):
    """redact(redact(x)) == redact(x) for arbitrary text (placeholders
    never re-match), and redaction never throws on junk/null input."""
    from solana_etl_pipeline_spark.llm.curate import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    once = redact_pii(F.col("t"))
    out = df.select("i", once.alias("r1"), redact_pii(once).alias("r2")).collect()
    for r in out:
        assert r.r1 == r.r2


@_SETTINGS
@given(texts=_texts)
def test_pack_sequences_conserves_docs_and_tokens(spark, texts):
    """Packing partitions the corpus: Σ n_docs == corpus size and
    Σ sum_tokens == Σ per-doc token counts, for any text shape."""
    from solana_etl_pipeline_spark.llm.curate import pack_sequences

    df = spark.createDataFrame(
        [("s", i, t) for i, t in enumerate(texts)],
        "source string, doc_id long, text string",
    )
    packs = pack_sequences(df, "doc_id", "text", budget=3).collect()
    # expectation via the PYTHON twin of the canonical tokenizer, so
    # this property also cross-checks the py/expression pair
    from solana_etl_pipeline_spark.llm.tokenize import py_words

    assert sum(p.n_docs for p in packs) == len(texts)
    assert sum(p.sum_tokens for p in packs) == sum(
        len(py_words(t)) for t in texts
    )


# ASCII-ish text with whitespace runs, tabs/newlines, repeats, the odd
# non-ASCII letter and the whitespace the convention keeps as word
# characters (VT, NBSP, U+3000) — the input space where a JVM text
# path and its plain-Python reference could drift apart.
_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.sampled_from(
                list("abc XY1.\t\n  ") + ["é", "\x0b", "\u00a0", "\u3000"]
            ),
            max_size=40,
        ),
    ),
    min_size=1,
    max_size=12,
)


@_SETTINGS
@given(texts=_texts)
def test_shingle_sets_match_python_reference_on_arbitrary_text(spark, texts):
    """The regex shingler must equal the plain-Python reference
    ``_shingle_list`` on arbitrary text and every shingle length —
    null handling, whitespace runs, short docs, repeated shingles,
    case, and non-ASCII letters included (Java \\s and re.ASCII \\s
    are both ASCII-only, so 'é' is a word char in both)."""
    from functools import reduce

    from solana_etl_pipeline_spark.llm.dedup import _shingle_list, shingle_sets

    lengths = (1, 2, 3, 5, 8)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )
    sets = reduce(
        lambda a, b: a.unionByName(b),
        [
            shingle_sets(df, "doc_id", "text", n).withColumn("n", F.lit(n))
            for n in lengths
        ],
    )
    got = {(r.n, r._id): r._sh for r in sets.collect()}
    want = {
        (n, i): _shingle_list(t, n) for n in lengths for i, t in enumerate(texts)
    }
    assert got == want


# Whitespace zoo for the three-engine tokenizer fuzz: every ASCII
# separator in the convention, the ASCII controls adjacent to it, and
# the Unicode whitespace/invisible family (NBSP, ogham, en/em spaces,
# line/para separators, narrow NBSP, math space, ideographic space,
# zero-width space, BOM, NEL) — all of which must be WORD characters
# to all three engines except the five convention separators.
# U+0130 'İ' and U+03A3 'Σ' are excluded by design: DuckDB lowercases
# 'İ' to 'i' where Java/Python produce 'i' + combining dot, and skips
# the context-sensitive final-sigma rule ('aΣ' → 'aς' in Java/Python,
# 'aσ' in DuckDB — found by this very fuzz). Lowercase 'ς' round-trips
# identically and stays in. See llm/tokenize.py module doc, "KNOWN
# ENGINE DIVERGENCES".
_tok_alphabet = (
    list("ab z.!9-_ \t\n\r\f")
    + ["\x0b", "\x1c", "\x1f", "\x85"]
    + [" ", " ", " ", " ", " ", " ",
       " ", " ", "　", "​", "﻿"]
    + ["é", "ß", "ς", "ǅ", "Ａ", "Ⅷ", "ﬁ", "Ж", "中"]
)

_ws_hostile_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=st.sampled_from(_tok_alphabet), max_size=30),
    ),
    min_size=1,
    max_size=8,
)


@_SETTINGS
@given(texts=_ws_hostile_texts)
def test_tokenizer_three_engines_agree_on_any_text(spark, texts):
    """words ≡ py_words ≡ words_sql on arbitrary whitespace-hostile
    unicode — the fuzz closing what the pinned hostile fixture can't
    enumerate. This fuzz found three real divergences: DuckDB's bare
    trim() strips Unicode whitespace (fixed with trim(x, ' ')),
    DuckDB lower('İ') drops the combining dot, and DuckDB skips the
    final-sigma context rule (both documented, excluded)."""
    import duckdb
    import pandas as pd

    from solana_etl_pipeline_spark.llm.tokenize import (
        py_words,
        words,
        words_sql,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    got_spark = {
        r.i: list(r.w)
        for r in df.select("i", words(F.col("t")).alias("w")).collect()
    }
    con = duckdb.connect()
    try:
        con.register(
            "tbl", pd.DataFrame({"i": range(len(texts)), "t": texts})
        )
        got_duck = {
            r[0]: r[1]
            for r in con.execute(
                "SELECT i, " + words_sql("t") + " AS w FROM tbl"
            ).fetchall()
        }
    finally:
        con.close()
    for i, t in enumerate(texts):
        expect = py_words(t)
        assert got_spark[i] == expect, (repr(t), got_spark[i], expect)
        assert got_duck[i] == expect, (repr(t), got_duck[i], expect)


@_SETTINGS
@given(texts=_ws_hostile_texts)
def test_word_ngram_twins_agree_on_any_text(spark, texts):
    """repetition_report, whose n-grams come from the Python builder
    ``_py_word_ngrams``, matches the ``llm_repetition_rules`` DuckDB
    oracle for ANY text the tokenizer fuzz can draw (nulls, tabs,
    unicode whitespace-adjacent junk; İ and Σ excluded, see
    ``_tok_alphabet``)."""
    import duckdb
    import pandas as pd

    from solana_etl_pipeline_spark.llm.textstats import repetition_report
    from solana_etl_pipeline_spark.queries import QUERIES
    from tests.oracle_utils import assert_matches_oracle

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    con = duckdb.connect()
    try:
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": range(len(texts)), "source": "fuzz", "text": texts}
            ),
        )
        oracle = QUERIES["llm_repetition_rules"].oracle
        assert_matches_oracle(
            repetition_report(df), con,
            f"SELECT * EXCLUDE (repetitive) FROM ({oracle})",
            name=repr(texts),
        )
    finally:
        con.close()


# ---------------------------------------------- interval merge (r7)

_iv_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=10_000),     # start second
    ),
    min_size=1,
    max_size=30,
)


def _py_interval_merge(rows, hold_s):
    """Reference merge: per key, sort starts, sweep, count islands and
    exact covered seconds."""
    out = {}
    by_key = {}
    for k, s in rows:
        by_key.setdefault(k, []).append(s)
    for k, starts in by_key.items():
        ivs = sorted((s, s + hold_s) for s in starts)
        islands = 0
        covered = 0
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                islands += 1
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += cur_e - cur_s
        out[k] = (islands, covered, len(starts))
    return out


@_SETTINGS
@given(data=_iv_rows)
def test_interval_coverage_matches_python_sweep(spark, data):
    """operators/intervals.py ≡ the classical single-threaded sweep on
    arbitrary overlapping/touching/duplicate intervals."""
    import datetime as dt

    from solana_etl_pipeline_spark.operators.intervals import (
        interval_coverage,
    )

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=s)) for k, s in data],
        ["user_id", "ts"],
    )
    got = {
        r.key: (r.n_islands, r.covered_sec, r.n_events)
        for r in interval_coverage(
            df, "user_id", "ts", hold_seconds=600
        ).collect()
    }
    assert got == _py_interval_merge(data, 600)


# --------------------------------------------------- pagerank (r7)

_edge_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # left node
        st.integers(min_value=10, max_value=14), # right node (disjoint)
    ),
    min_size=1,
    max_size=15,
    unique=True,
)


def _py_pagerank(edges, damping=0.85, n_iter=3, r=9):
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    nodes = sorted({x for e in und for x in e})
    deg = {n: sum(1 for s, _ in und if s == n) for n in nodes}
    rank = {n: round(1.0 / len(nodes), r) for n in nodes}
    tele = (1.0 - damping) / float(len(nodes))
    for _ in range(n_iter):
        mass = {n: 0.0 for n in nodes}
        for s, d in sorted(und):
            mass[d] += rank[s] / deg[s]
        rank = {n: round(tele + damping * mass[n], r) for n in nodes}
    return rank


@_SETTINGS
@given(edges=_edge_rows)
def test_pagerank_matches_python_twin(spark, edges):
    """operators/graph.py ≡ a sequential Python PageRank with the same
    per-iteration rounding (summation-order float drift lives below
    the 1e-9 grain on these graph sizes, so equality is exact at 1e-6
    reporting)."""
    from solana_etl_pipeline_spark.operators.graph import pagerank

    df = spark.createDataFrame(list(edges), ["src", "dst"])
    got = {
        r.node: round(r.rank, 6)
        for r in pagerank(df, n_iter=3).collect()
    }
    want = {
        n: round(v, 6) for n, v in _py_pagerank(list(edges)).items()
    }
    assert got == want
