"""Nested-document normalization → the canonical 15-column table.

The reference's transform layer (``clean_data.py:36-72`` bare shape,
``clean_data.py:84-123`` metadata-wrapped shape, ``clean_data.py:209-226``
websocket rows) walks dicts row-at-a-time with ``.get(k, default)``
fallbacks. Here the same semantics are four declarative steps:

1. ``from_json`` against both candidate schemas (S6) — missing fields
   become nulls, exactly the ``.get`` permissiveness, but with a static
   contract;
2. shape dispatch (P11) = ``when(metadata-parse succeeded)`` — the
   reference sniffs ``"metadata" in data`` (``clean_data.py:84,124``);
3. ``explode_outer`` over ``tokenTransfers`` (F15/D3) — one output row
   per element, and an empty/absent array still yields ONE null-padded
   row, matching ``clean_data.py:62-71``'s explicit padding branch;
4. flat ``select`` with ``coalesce`` defaults (P2-P4, F14, F17, J3) to
   ``schemas.CLEANED_TRANSACTIONS``.

Every step is JVM-side (no Python UDFs): from_json/explode run inside
WholeStageCodegen, so this scales as a pure narrow pipeline — zero
shuffles until a downstream aggregation asks for one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from solana_etl_pipeline_spark.schemas import (
    HELIUS_TRANSACTION,
    HELIUS_WRAPPED,
    WEBSOCKET_MESSAGE,
)

#: Sentinel defaults per the reference (`.get(x, "")` / `.get(x, 0)`).
_STR_DEFAULT = ""
_NUM_DEFAULT = 0


def _s(c: Column) -> Column:
    """String field with the reference's ``""`` default."""
    return F.coalesce(c, F.lit(_STR_DEFAULT))


def _flatten_one_transaction(
    tx: Column,
    token_name: Column,
    token_symbol: Column,
    mint_fallback: Column,
    source_label: Column,
) -> list[Column]:
    """Flatten one (transaction struct, exploded transfer) pair.

    Expects columns ``tx`` (HELIUS_TRANSACTION struct) and ``transfer``
    (exploded TOKEN_TRANSFER struct, possibly null) to be in scope.
    Mirrors the field defaults of ``clean_data.py:38-72,92-123``.
    """
    transfer = F.col("transfer")
    return [
        _s(tx["description"]).alias("description"),
        _s(tx["type"]).alias("type"),
        source_label.alias("source"),
        # bare shape reads meta.fee (clean_data.py:42); wrapped reads a
        # top-level fee (clean_data.py:96) — coalesce covers both
        F.coalesce(tx["meta"]["fee"], tx["fee"], F.lit(_NUM_DEFAULT)).alias("fee"),
        # accountKeys[0] with `or [""]` guard (clean_data.py:43), else the
        # wrapped shape's feePayer (clean_data.py:97)
        _s(
            F.coalesce(
                F.element_at(tx["transaction"]["message"]["accountKeys"], 1),
                tx["feePayer"],
            )
        ).alias("fee_payer"),
        _s(tx["signature"]).alias("signature"),
        F.coalesce(tx["slot"], F.lit(_NUM_DEFAULT)).alias("slot"),
        # epoch seconds -> UTC TimestampType (PST is display-edge)
        F.timestamp_seconds(
            F.coalesce(tx["timestamp"], tx["blockTime"])
        ).alias("ts"),
        _s(token_name).alias("token_name"),
        _s(token_symbol).alias("token_symbol"),
        _s(transfer["fromUserAccount"]).alias("from_account"),
        _s(transfer["toUserAccount"]).alias("to_account"),
        transfer["tokenAmount"].try_cast("double").alias("token_amount"),
        _s(F.coalesce(transfer["mint"], mint_fallback)).alias("mint"),
        _s(transfer["tokenStandard"]).alias("token_standard"),
    ]


def dispatch_and_flatten(raw: DataFrame, json_col: str = "raw") -> DataFrame:
    """P11 structure dispatch: route each raw document by shape.

    The reference sniffs ``"metadata" in data`` vs ``isinstance(data,
    list)`` (``clean_data.py:84,124,129-130``) — i.e. the bare shape is
    a JSON *array*, the wrapped shape a JSON *object*. That is decidable
    from the first non-space character, so each document pays exactly
    ONE ``from_json`` behind a ``when`` routed on it (CaseWhen branch
    values evaluate lazily; the r3 version parsed every doc against
    BOTH schemas and the dual parse dominated the two biggest nested
    queries at ~2× the necessary cost). One narrow pass, no
    filter/union re-parse, no Python.
    """
    is_array = F.startswith(F.ltrim(F.col(json_col)), F.lit("["))
    parsed = raw.select(
        F.when(
            ~is_array, F.from_json(F.col(json_col), HELIUS_WRAPPED)
        ).alias("w"),
        F.when(
            is_array, F.from_json(F.col(json_col), ArrayType(HELIUS_TRANSACTION))
        ).alias("b"),
    )
    md = F.col("w")["metadata"]
    exploded = parsed.select(
        md.alias("md"),
        F.explode_outer(
            F.coalesce(F.col("w")["transactions"], F.col("b"))
        ).alias("tx"),
    ).select(
        "md", "tx", F.explode_outer(F.col("tx")["tokenTransfers"]).alias("transfer")
    )
    md, tx = F.col("md"), F.col("tx")
    # wrapped docs get the fixed 'Helius' source label (clean_data.py:95);
    # bare docs keep their own source field (clean_data.py:41)
    source = F.when(md.isNotNull(), F.lit("Helius")).otherwise(_s(tx["source"]))
    return exploded.select(
        *_flatten_one_transaction(
            tx,
            token_name=md["token_name"],
            token_symbol=md["token_symbol"],
            mint_fallback=md["mint"],
            source_label=source,
        )
    )


def normalize_websocket_messages(
    raw: DataFrame,
    json_col: str = "raw",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Websocket landing messages → the same 15-column table.

    ``keep_cols`` passes named INPUT columns through the projection
    unchanged (appended after the 15 canonical columns). The silver
    dedup stage needs this for ingest-time stamps derived from
    arrival metadata (e.g. the landing file's ``_metadata`` — see
    tests/test_pipeline.py::test_pipeline_exactly_once_event_time_deterministic):
    such a stamp cannot be reconstructed after the projection, and it
    must NOT be embedded in the payload because the content-derived
    signature below would then split redeliveries into distinct keys.

    The reference pads the 10 missing columns with ``""``/0 constants
    (``clean_data.py:210-226``, P4); ``unionByName(allowMissingColumns)``
    against the canonical schema would also work — explicit literals
    keep types exact.

    EXCEPT the signature: the reference's ``""`` pad is a trap here,
    because the silver merge dedups on (mint, signature) — with a
    constant signature every websocket row for a mint shares one key
    and all but one would be silently dropped. Websocket rows instead
    carry a content-derived signature (``ws:<sha256(raw)>``): exact
    redeliveries of the same message still dedup, distinct events
    never collide, and the value is deterministic under replay.
    """
    parsed = raw.withColumn("m", F.from_json(F.col(json_col), WEBSOCKET_MESSAGE))
    m = F.col("m")
    return parsed.select(
        F.lit("").alias("description"),
        _s(m["txType"]).alias("type"),
        F.lit("websocket").alias("source"),
        F.lit(0).cast("long").alias("fee"),
        F.lit("").alias("fee_payer"),
        F.concat(
            F.lit("ws:"), F.sha2(F.coalesce(F.col(json_col), F.lit("")), 256)
        ).alias("signature"),
        F.lit(0).cast("long").alias("slot"),
        F.lit(None).cast("timestamp").alias("ts"),
        _s(m["name"]).alias("token_name"),
        _s(m["symbol"]).alias("token_symbol"),
        F.lit("").alias("from_account"),
        F.lit("").alias("to_account"),
        m["solAmount"].try_cast("double").alias("token_amount"),
        _s(m["mint"]).alias("mint"),
        F.lit("").alias("token_standard"),
        *[F.col(c) for c in keep_cols],
    )
