"""Hostile-fixture gate: every oracle-paired query must STILL match
its DuckDB oracle on a fixture stuffed with the adversarial shapes the
round-5 reviews identified as latent divergences — null text, empty
text, space-only text, exact-dup clusters, short docs, full-row
redelivery duplicates, sub-millisecond interval-boundary timestamps,
and null/zero/zero-length embedding vectors.

The driver's fixtures contain none of these, so the ordinary parity
gate cannot witness the fixture-proofing fixes; this module generates
the hostile tables once per session and re-runs the same
rows+schema+hash comparison over the full registry. Since the
tokenization convention moved to llm/tokenize.py (collapse whitespace
runs → trim → literal-space split, identical in Spark, DuckDB and the
Arrow paths), the fixture ALSO includes whitespace-hostile documents —
tabs, newlines, carriage returns, form feeds, multi-space runs,
leading/trailing whitespace — so the gate, not a doc note, enforces
cross-engine tokenization agreement.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from solana_etl_pipeline_spark.queries import QUERIES
from tests.oracle_utils import (
    FIXTURE_TABLES,
    assert_matches_oracle,
    duckdb_connection,
)

BASE_SF = "/root/testdata/sf0.001"

ORACLE_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle)


def _hostile_documents() -> pa.Table:
    base = pq.read_table(f"{BASE_SF}/documents.parquet")
    keep = base.slice(0, 150)
    schema = base.schema
    vocab = "the data table row scan value fast merge and of batch".split()
    rows = []

    def doc(doc_id, text, lang="en", source="srcH"):
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": lang,
                "source": source,
                "n_chars": len(text) if text is not None else None,
            }
        )

    nid = 10_000  # clear of organic ids; still < any probe offset
    doc(nid + 0, None)  # null text
    doc(nid + 1, "")  # empty text
    doc(nid + 2, " ")  # space-only text
    doc(nid + 3, "solo")  # 1-word doc
    doc(nid + 4, "two words")  # sub-shingle-length doc
    dup = "the data table row scan value fast merge " * 3
    for i in range(3):  # exact-dup cluster
        doc(nid + 5 + i, dup.strip())
    # near-dup pair (one word changed)
    doc(nid + 8, " ".join(vocab * 4))
    doc(nid + 9, " ".join((vocab * 4)[:-1] + ["changed"]))
    # a second null-text doc: null/empty docs must group together in
    # exact dedup (content-hash NULL == '') yet never near-dup pair
    doc(nid + 10, None, lang="zh", source="srcH2")
    # --- whitespace-hostile docs (llm/tokenize.py convention): every
    # engine must tokenize these identically or the text-family
    # queries (stats, ranking, hygiene, dedup shingles) hash-diverge
    doc(nid + 11, "tab\tseparated\ttokens here")
    doc(nid + 12, "line\nbroken\r\ntext and  double  spaces")
    doc(nid + 13, "  leading and trailing  ")
    doc(nid + 14, "\t\n")  # whitespace-only (beyond the space-only doc)
    doc(nid + 15, "form\ffeed mixed \t with\nthe rest of it")
    # near-dup pair differing ONLY in whitespace shape: identical
    # token streams ⇒ identical shingles/signatures in every engine
    doc(nid + 16, " ".join(vocab * 5))
    doc(nid + 17, "\t" + "\n".join(vocab * 5) + "  ")
    hostile = pa.Table.from_pylist(rows, schema=schema)
    return pa.concat_tables([keep, hostile])


def _hostile_embeddings() -> pa.Table:
    base = pq.read_table(f"{BASE_SF}/embeddings.parquet")
    keep = base.slice(0, 100)
    dim = len(keep.column("embedding")[0].as_py())
    rows = [
        # all OUTSIDE the vec_id < 5 probe range: null and zero-norm
        # vectors are documented out-of-contract as QUERY vectors but
        # must be harmless as corpus members
        {"vec_id": 20_000, "embedding": None, "label": 0},
        {"vec_id": 20_001, "embedding": [0.0] * dim, "label": 0},
        {"vec_id": 20_002, "embedding": keep.column("embedding")[7].as_py(), "label": 0},
        # degenerate-input section (r11, VERDICT r10 "what's wrong" #4):
        # a zero-LENGTH vector — dim-mismatched against every real one
        # (cosine NULL via zip_with null-padding / the Arrow kernel's
        # length check) and zero-norm against itself; must be harmless
        # as a corpus member in every similarity/near-dup family
        {"vec_id": 20_003, "embedding": [], "label": 0},
    ]
    return pa.concat_tables(
        [keep, pa.Table.from_pylist(rows, schema=base.schema)]
    )


def _hostile_events() -> pa.Table:
    import datetime as dt

    base = pq.read_table(f"{BASE_SF}/events.parquet")
    keep = base.slice(0, 2000)
    schema = base.schema
    t0 = dt.datetime(2025, 6, 1, 12, 0, 0, 250)  # sub-ms component
    rows = []

    def ev(eid, ts, uid, etype, value):
        rows.append(
            {
                "event_id": eid,
                "ts": ts,
                "user_id": uid,
                "event_type": etype,
                "value": value,
                "props": "{}",
            }
        )

    # at-least-once redelivery: full-row duplicates
    ev(90_000, t0, 777, "purchase", 5.0)
    ev(90_000, t0, 777, "purchase", 5.0)
    # signup→purchase pairs hugging the 1-hour interval bound with
    # sub-millisecond offsets: raw-micro evaluation and ms-truncated
    # evaluation DISAGREE here, so these rows witness the
    # ms-truncation convention in the interval-join oracle
    ev(90_001, t0, 778, "signup", 1.0)
    ev(90_002, t0 + dt.timedelta(seconds=3600, microseconds=400), 778, "purchase", 2.0)
    ev(90_003, t0 + dt.timedelta(seconds=3600, microseconds=1400), 778, "purchase", 3.0)
    # session-window boundary: second burst exactly 30 min later
    ev(90_004, t0 + dt.timedelta(minutes=30), 777, "click", 1.0)
    return pa.concat_tables([keep, pa.Table.from_pylist(rows, schema=schema)])


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("hostile_sf")
    for name in FIXTURE_TABLES:
        if name not in ("documents", "embeddings", "events"):
            shutil.copy(f"{BASE_SF}/{name}.parquet", out / f"{name}.parquet")
    pq.write_table(_hostile_documents(), out / "documents.parquet")
    pq.write_table(_hostile_embeddings(), out / "embeddings.parquet")
    pq.write_table(_hostile_events(), out / "events.parquet")
    return str(out)


@pytest.fixture(scope="module")
def hostile_con(hostile_dir):
    con = duckdb_connection(hostile_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle_on_hostile_fixture(
    spark, hostile_dir, hostile_con, name
):
    spec = QUERIES[name]
    df = spec.spark(spark, hostile_dir)
    assert_matches_oracle(df, hostile_con, spec.oracle, name=name)


# --- degenerate-input end-to-end pins (r11, VERDICT r10 #4): the
# zero-norm NaN-ranking bug lived 9 rounds because no GATE ran the
# similarity kernels over degenerate corpus members — the kernel unit
# test isn't end-to-end. These drive cosine_topk's expression kernel
# and the capped near-dup path (the Arrow pair_cosine verify) over the
# hostile corpus (null + zero-norm + zero-length + duplicated vectors)
# through the real top-k/verify plans.

_DEGENERATE_VEC_IDS = {20_000, 20_001, 20_003}  # null, zero-norm, empty


def test_cosine_topk_kernels_agree_on_degenerate_corpus(
    spark, hostile_dir
):
    from pyspark.sql import functions as F

    from solana_etl_pipeline_spark.llm.similarity import cosine_topk
    from solana_etl_pipeline_spark.sources import load_table

    emb = load_table(spark, hostile_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    rows = cosine_topk(emb, queries, k=5, max_queries=None).collect()
    # 5 query vectors × full top-5 (the corpus has >5 valid rows)
    assert len(rows) == 25
    # a degenerate corpus member must never out-rank a real one:
    # NaN would sort FIRST in desc order (the r10 bug); NULL
    # sorts last and can't reach the top-5 here
    assert not {r.neighbor_id for r in rows} & _DEGENERATE_VEC_IDS


def test_capped_near_dup_handles_degenerate_corpus(spark, hostile_dir):
    from pyspark.sql import functions as F

    from solana_etl_pipeline_spark.llm.dedup import embedding_near_dup_pairs
    from solana_etl_pipeline_spark.llm.scale import MAX_BUCKET
    from solana_etl_pipeline_spark.sources import load_table

    emb = load_table(spark, hostile_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.9, max_bucket=MAX_BUCKET
    ).collect()
    spark.catalog.clearCache()
    ids_in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    # null/zero-norm/zero-length vectors never pair with anything...
    assert not ids_in_pairs & _DEGENERATE_VEC_IDS
    # ...while the planted exact copy (vec 7 duplicated as 20_002)
    # must be found at cosine 1.0 — degenerate-proofing can't come
    # from dropping rows the operator should match
    assert any(
        (r.id_a, r.id_b) == (7, 20_002) and r.cosine == 1.0
        for r in pairs
    )
