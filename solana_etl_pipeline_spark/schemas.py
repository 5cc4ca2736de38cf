"""Canonical schemas for the engine.

The reference pipeline has one true output schema — the 15-column
"cleaned transactions" table built identically in three places
(reference ``clean_data.py:38-60``, ``clean_data.py:92-123``,
``clean_data.py:210-226``) — plus two nested input document shapes
(``clean_data.py:36-72`` and ``clean_data.py:84-123``) and a flat
websocket-message projection (``cleandata1.py:27-34``).

Here every stage gets an explicit ``StructType`` contract instead of the
reference's duck-typed ``dict.get`` access: at 100 TB, schema inference on
JSON is a full extra pass over the data, and silent shape drift is how
pipelines corrupt a lake. ``from_json`` against these schemas gives the
same "missing field -> null" permissiveness the reference gets from
``.get(k, default)`` without giving up a static contract.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Reference-derived schemas (FIXTURES.md §B)
# ---------------------------------------------------------------------------

#: Raw websocket message (one JSON object per landed file) —
#: reference ``cleandata1.py:27-33``; extra fields are ignored by projection.
WEBSOCKET_MESSAGE = StructType(
    [
        StructField("mint", StringType()),
        StructField("txType", StringType()),
        StructField("solAmount", DoubleType()),
        StructField("name", StringType()),
        StructField("symbol", StringType()),
    ]
)

#: One token transfer inside a Helius transaction —
#: reference ``clean_data.py:52-60``.
TOKEN_TRANSFER = StructType(
    [
        StructField("fromUserAccount", StringType()),
        StructField("toUserAccount", StringType()),
        StructField("tokenAmount", DoubleType()),
        StructField("mint", StringType()),
        StructField("tokenStandard", StringType()),
    ]
)

#: Bare Helius transaction document (shape "B2") —
#: reference ``clean_data.py:36-72``. Arrives as a JSON *list* of these.
HELIUS_TRANSACTION = StructType(
    [
        StructField("description", StringType()),
        StructField("type", StringType()),
        StructField("source", StringType()),
        StructField("signature", StringType()),
        StructField("slot", LongType()),
        StructField("timestamp", LongType()),
        StructField("blockTime", LongType()),
        StructField("fee", LongType()),
        StructField("feePayer", StringType()),
        StructField(
            "meta",
            StructType([StructField("fee", LongType())]),
        ),
        StructField(
            "transaction",
            StructType(
                [
                    StructField(
                        "message",
                        StructType(
                            [StructField("accountKeys", ArrayType(StringType()))]
                        ),
                    )
                ]
            ),
        ),
        StructField("tokenTransfers", ArrayType(TOKEN_TRANSFER)),
    ]
)

#: Metadata-wrapped document variant (shape "B3") —
#: reference ``clean_data.py:84-123``.
HELIUS_WRAPPED = StructType(
    [
        StructField(
            "metadata",
            StructType(
                [
                    StructField("token_name", StringType()),
                    StructField("token_symbol", StringType()),
                    StructField("mint", StringType()),
                ]
            ),
        ),
        StructField("transactions", ArrayType(HELIUS_TRANSACTION)),
    ]
)

#: The canonical 15-column cleaned-transactions table —
#: reference ``clean_data.py:92-123`` (snake_case here; the reference's
#: display names like "Fee Payer" are a rendering concern).
CLEANED_TRANSACTIONS = StructType(
    [
        StructField("description", StringType()),
        StructField("type", StringType()),
        StructField("source", StringType()),
        StructField("fee", LongType()),
        StructField("fee_payer", StringType()),
        StructField("signature", StringType()),
        StructField("slot", LongType()),
        StructField("ts", TimestampType()),  # stored UTC; PST is display-edge
        StructField("token_name", StringType()),
        StructField("token_symbol", StringType()),
        StructField("from_account", StringType()),
        StructField("to_account", StringType()),
        StructField("token_amount", DoubleType()),
        StructField("mint", StringType()),
        StructField("token_standard", StringType()),
    ]
)

#: The per-mint risk table ``pipelines.gold.build_risk_gold`` builds and
#: ``refresh_gold`` publishes (``streamlit 1.3.txt:83-113``), in the
#: order it writes. Readers of a published version read by this schema,
#: so no read infers one from the files' footers; ``refresh_gold``
#: refuses a build whose names or types differ from it.
RISK_GOLD = StructType(
    [
        StructField("mint", StringType()),
        StructField("unique_holders", LongType()),
        StructField("unique_buyers", LongType()),
        StructField("total_events", LongType()),
        StructField("ownership_risk", DoubleType()),
        StructField("liquidity_risk", DoubleType()),
        StructField("txn_concentration", DoubleType()),
        StructField("jeet_risk_score", DoubleType()),
        StructField("safety_score", DoubleType()),
        StructField("token_name", StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Fixture schemas (TESTDATA.md / FIXTURES.md §A) — declared so readers can
# enforce them instead of trusting inference.
# ---------------------------------------------------------------------------


def _struct(*fields: tuple) -> StructType:
    return StructType([StructField(name, dtype) for name, dtype in fields])


#: The fixture tables ``sources.load_table`` reads (TESTDATA.md), each
#: the schema Spark infers from the files' footers. Parquet timestamps
#: stored with ``isAdjustedToUTC=false`` read as ``timestamp_ntz``.
#: ``load_table`` reads by these, so no read starts a job to infer one;
#: ``tests/test_tables.py`` checks them against the files.
FIXTURE_TABLES = {
    "region": _struct(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _struct(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _struct(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _struct(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _struct(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _struct(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampNTZType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _struct(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampNTZType()),
    ),
    "events": _struct(
        ("event_id", LongType()),
        ("ts", TimestampNTZType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _struct(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _struct(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

#: The JSON landing-file event shape the streaming queries read
#: (``queries/streaming.py``); its ``ts`` is a session-zone timestamp.
EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

#: Multimodal column convention: payload is an opaque binary blob; typed
#: metadata travels alongside so partition pruning / filtering never has to
#: touch bytes. See ``llm/multimodal.py``.
MULTIMODAL_ASSET = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),  # image | audio | video
        StructField("media_type", StringType()),  # MIME, e.g. image/png
        StructField("payload", BinaryType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)
