"""Determinism and ground truth of the benchmark's input generator.

Run with ``python3 -m pytest perfbench/tests -q`` (no Spark needed).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _rows(rel: str, doc: str) -> list[tuple[str, str]]:
    """(mint, signature) of each silver row one landed file normalizes to."""
    if rel.startswith("ws/"):
        msg = json.loads(doc)
        return [(msg["mint"], "ws:" + hashlib.sha256(doc.encode()).hexdigest())]
    parsed = json.loads(doc)
    txs = parsed["transactions"] if isinstance(parsed, dict) else parsed
    return [(t["mint"], tx["signature"])
            for tx in txs for t in tx["tokenTransfers"]]


def test_landing_is_deterministic_per_seed():
    a = gen.landing(5, 12, 30, tx_per_doc=3)
    b = gen.landing(5, 12, 30, tx_per_doc=3)
    c = gen.landing(6, 12, 30, tx_per_doc=3)
    assert a.files == b.files
    assert a.files != c.files
    # every seed lands the same number of silver rows
    assert len(a.truth.rows) == len(c.truth.rows)


def test_landing_ground_truth_matches_files():
    land = gen.landing(7, 20, 50, tx_per_doc=3)
    rows = [r for rel, doc in land.files for r in _rows(rel, doc)]
    keys = land.truth.keys()
    assert set(rows) == keys
    # every duplicate row comes from a redelivered file
    assert len(rows) - len(keys) == land.redelivered_rows
    assert len(land.files) == land.messages + land.redelivered_messages
    # redelivered copies are byte-identical to an earlier file of the feed
    docs = [doc for _, doc in land.files]
    assert len(docs) - len(set(docs)) == land.redelivered_messages


def test_helius_documents_follow_the_reference_fetch():
    land = gen.landing(9, 6, 0)
    docs = [json.loads(doc) for rel, doc in land.files
            if rel.startswith("helius/")]
    mints = set()
    for doc in docs:
        txs = doc["transactions"] if isinstance(doc, dict) else doc
        # one page of the reference's fetch: limit=100 transactions
        assert len(txs) == gen.TX_PER_DOC
        # every transaction of a document moves the document's mint
        first = {t["mint"] for t in txs[0]["tokenTransfers"]}
        mint = set.intersection(
            *({t["mint"] for t in tx["tokenTransfers"]} for tx in txs))
        assert len(mint) == 1 and mint <= first
        mints |= mint
    # one document per mint
    assert len(mints) == 6


def test_landing_holder_sets_exclude_quote_mints():
    land = gen.landing(8, 20, 50, tx_per_doc=3)
    holders = land.truth.holders()
    assert not set(holders) & set(gen.QUOTE_MINTS)
    websocket_mints = {m for m, s, *_ in land.truth.rows if s.startswith("ws:")
                       and m not in gen.QUOTE_MINTS}
    for m in websocket_mints:
        assert "" in holders[m]  # websocket rows carry no accounts


def test_analytics_tables_are_deterministic():
    a = gen.analytics_tables(1, 0.05)
    b = gen.analytics_tables(1, 0.05)
    c = gen.analytics_tables(2, 0.05)
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
