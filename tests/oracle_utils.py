"""Oracle-diff helpers mirroring the driver's rows+schema+hash check.

The driver sorts columns by name, hashes values order-insensitively, and
compares PySpark output against DuckDB running ``oracle_sql`` over the
same parquet files. Here we do the equivalent comparison in-process so
``pytest`` catches a mismatch before the driver does.
"""

from __future__ import annotations

import math
from typing import Iterable

import duckdb

from solana_etl_pipeline_spark import schemas

FIXTURE_TABLES = tuple(schemas.FIXTURE_TABLES)


def duckdb_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """Fresh DuckDB connection with fixture tables registered as views."""
    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Both sides round computed floats explicitly; this guards the
        # representation (1.0 vs 1) rather than re-rounding semantics.
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _canonical_rows(columns: list[str], rows: Iterable[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def assert_matches_oracle(spark_df, con, sql: str, name: str = "?") -> None:
    """Order-insensitive, column-name-sorted value comparison.

    Fetches the oracle via Arrow — the driver does the same, and Arrow
    preserves DuckDB's HUGEINT/decimal128 aggregate types that plain
    ``fetchall()`` silently collapses to Python int. A decimal column on
    the oracle side serializes differently from Spark's int64 even when
    values are equal, so it is an outright failure here.
    """
    import pyarrow as pa

    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    tbl = con.execute(sql).arrow()
    decimal_cols = [
        f.name for f in tbl.schema if pa.types.is_decimal(f.type)
    ]
    assert not decimal_cols, (
        f"{name}: oracle columns {decimal_cols} are DuckDB HUGEINT/decimal "
        f"(sum/%% over integers) — CAST(... AS BIGINT) in the oracle SQL so "
        f"both engines emit int64 (driver hashes Arrow types, not values)"
    )
    d_cols = tbl.column_names
    _cols_data = [tbl.column(j).to_pylist() for j in range(tbl.num_columns)]
    d_rows = [
        tuple(col[i] for col in _cols_data) for i in range(tbl.num_rows)
    ]

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_canon = _canonical_rows(s_cols, s_rows)
    d_canon = _canonical_rows(d_cols, d_rows)
    mismatches = [
        (a, b) for a, b in zip(s_canon, d_canon) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[0]}"
    )
