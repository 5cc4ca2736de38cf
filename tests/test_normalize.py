"""Parity tests for pipelines.normalize against the reference's exact
semantics (clean_data.py:36-72, 84-123, 209-226), on literal
reference-shaped JSON (FIXTURES.md §B).
"""

from __future__ import annotations

import json

from pyspark.sql import Row

from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)

BARE_DOC = json.dumps(
    [
        {
            "description": "swap",
            "type": "SWAP",
            "source": "RAYDIUM",
            "signature": "sigA",
            "slot": 7,
            "blockTime": 1700000000,
            "meta": {"fee": 5000},
            "transaction": {"message": {"accountKeys": ["payer1", "other"]}},
            "tokenTransfers": [
                {
                    "fromUserAccount": "from1",
                    "toUserAccount": "to1",
                    "tokenAmount": 1.5,
                    "mint": "mintA",
                    "tokenStandard": "Fungible",
                },
                {
                    "fromUserAccount": "from2",
                    "toUserAccount": "to2",
                    "tokenAmount": 2.5,
                    "mint": "mintA",
                    "tokenStandard": "Fungible",
                },
            ],
        },
        # clean_data.py:62-71: EMPTY tokenTransfers -> ONE padded row
        {
            "signature": "sigB",
            "slot": 8,
            "blockTime": 1700000100,
            "tokenTransfers": [],
        },
        # absent tokenTransfers + absent meta/accountKeys -> defaults
        {"signature": "sigC"},
    ]
)

WRAPPED_DOC = json.dumps(
    {
        "metadata": {
            "token_name": "TokName",
            "token_symbol": "TOK",
            "mint": "mintMeta",
        },
        "transactions": [
            {
                "signature": "sigW",
                "fee": 123,
                "feePayer": "wpayer",
                "timestamp": 1700000200,
                "tokenTransfers": [
                    {
                        "fromUserAccount": "wf",
                        "toUserAccount": "wt",
                        "tokenAmount": 9.0,
                        # no mint -> falls back to metadata.mint
                        "tokenStandard": "Fungible",
                    }
                ],
            }
        ],
    }
)


def _raw_df(spark, docs):
    return spark.createDataFrame([Row(raw=d) for d in docs])


def test_bare_flatten_explodes_and_pads(spark):
    out = dispatch_and_flatten(_raw_df(spark, [BARE_DOC]))
    rows = {(r.signature, r.from_account): r for r in out.collect()}
    # 2 real transfers + 1 padded for sigB + 1 padded for sigC
    assert len(rows) == 4
    real = rows[("sigA", "from1")]
    assert real.fee == 5000
    assert real.fee_payer == "payer1"
    assert real.token_amount == 1.5
    assert real.mint == "mintA"
    # empty array -> single null-padded row (clean_data.py:62-71)
    padded = rows[("sigB", "")]
    assert padded.to_account == ""
    assert padded.token_amount is None
    assert padded.mint == ""
    # absent everything -> defaults (clean_data.py:42-46)
    bare_min = rows[("sigC", "")]
    assert bare_min.fee == 0
    assert bare_min.fee_payer == ""
    assert bare_min.ts is None


def test_wrapped_flatten_carries_metadata(spark):
    out = dispatch_and_flatten(_raw_df(spark, [WRAPPED_DOC]))
    [row] = out.collect()
    assert row.token_name == "TokName"
    assert row.token_symbol == "TOK"
    # transfer-level mint missing -> metadata.mint (clean_data.py:111)
    assert row.mint == "mintMeta"
    # wrapped shape's top-level fee/feePayer (clean_data.py:96-97)
    assert row.fee == 123
    assert row.fee_payer == "wpayer"
    assert row.source == "Helius"


def test_dispatch_routes_both_shapes(spark):
    out = dispatch_and_flatten(_raw_df(spark, [BARE_DOC, WRAPPED_DOC]))
    rows = out.collect()
    assert len(rows) == 5
    sources = {r.source for r in rows}
    assert "Helius" in sources and "RAYDIUM" in sources


def test_websocket_normalize_pads_constants(spark):
    msg = json.dumps(
        {
            "mint": "m1",
            "txType": "create",
            "solAmount": 2.25,
            "name": "N",
            "symbol": "S",
            "extraField": "ignored",
        }
    )
    out = normalize_websocket_messages(_raw_df(spark, [msg]))
    [row] = out.collect()
    assert row.source == "websocket"
    assert row.type == "create"
    assert row.token_amount == 2.25
    # signature is content-derived (ws:<sha256(raw)>), NOT the
    # reference's '' pad — a constant would collapse all websocket
    # rows for a mint under the (mint, signature) silver dedup
    assert row.fee == 0 and row.ts is None
    assert row.signature.startswith("ws:") and len(row.signature) == 67
    assert len(out.columns) == 15


def test_union_harmonizes_with_cleaned_schema(spark):
    """U1: websocket rows union with helius rows into one table
    (clean_data.py:268-271)."""
    ws = normalize_websocket_messages(
        _raw_df(spark, [json.dumps({"mint": "m1", "txType": "t"})])
    )
    hel = dispatch_and_flatten(_raw_df(spark, [WRAPPED_DOC]))
    merged = hel.unionByName(ws)
    assert merged.count() == 2
    assert merged.columns == hel.columns
