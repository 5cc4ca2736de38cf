"""Tests for the streaming source's landing writer (S1) and the REST
batch source (S2) — injectable transports, no network.
"""

from __future__ import annotations

import asyncio
import os

from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from solana_etl_pipeline_spark.sources.message_stream import (
    write_messages_to_landing,
)
from solana_etl_pipeline_spark.sources.rest import fetch_batch_to_dataframe


def test_landing_writer_atomic_files(spark, tmp_path):
    landing = str(tmp_path / "landing")

    async def fake_socket_messages():
        for i in range(8):
            yield {"mint": f"m{i}", "txType": "create", "solAmount": 1.5,
                   "name": "N", "symbol": "S"}

    n = asyncio.run(
        write_messages_to_landing(fake_socket_messages(), landing)
    )
    assert n == 8
    files = sorted(os.listdir(landing))
    assert len(files) == 8
    assert all(f.endswith(".json") and not f.startswith(".") for f in files)

    # the landing dir is directly consumable by the engine
    schema = StructType(
        [
            StructField("mint", StringType()),
            StructField("txType", StringType()),
            StructField("solAmount", DoubleType()),
            StructField("name", StringType()),
            StructField("symbol", StringType()),
        ]
    )
    back = spark.read.schema(schema).json(landing)
    assert back.count() == 8


def test_rest_batch_source(spark):
    schema = StructType(
        [
            StructField("mint", StringType()),
            StructField("signature", StringType()),
        ]
    )

    def fake_api(mint: str) -> list[dict]:
        return [{"mint": mint, "signature": f"{mint}-sig{j}"} for j in range(3)]

    df = fetch_batch_to_dataframe(
        spark, ["a", "b"], fake_api, schema, rate_limit_per_sec=1000
    )
    rows = df.collect()
    assert len(rows) == 6
    assert {r.signature for r in rows if r.mint == "a"} == {
        "a-sig0", "a-sig1", "a-sig2"
    }


class _ApiHandler:
    """Local http.server exercising the default transport: pagination,
    one-shot 429 with Retry-After, and a permanently-broken key."""

    @staticmethod
    def make(state):
        import http.server
        import json as _json
        from urllib.parse import parse_qs, urlparse

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *args):  # keep pytest output clean
                pass

            def do_GET(self):
                u = urlparse(self.path)
                qs = parse_qs(u.query)
                # /api/addresses/{key}/transactions
                parts = u.path.strip("/").split("/")
                key = parts[parts.index("addresses") + 1]
                state["requests"].append(self.path)
                if key == "broken":
                    self.send_response(500)
                    self.end_headers()
                    return
                if key == "throttled" and not state["throttle_done"]:
                    state["throttle_done"] = True
                    self.send_response(429)
                    self.send_header("Retry-After", "0")
                    self.end_headers()
                    return
                page = int(qs.get("page", ["0"])[0])
                pages = {0: 3, 1: 2}  # page sizes; page 2 is empty
                n = pages.get(page, 0)
                body = _json.dumps(
                    [
                        {"mint": key, "signature": f"{key}-p{page}-{i}"}
                        for i in range(n)
                    ]
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

        return Handler


def test_http_fetcher_pagination_and_backoff(spark):
    import http.server
    import threading

    from solana_etl_pipeline_spark.sources.rest import http_json_fetcher

    state = {"requests": [], "throttle_done": False}
    server = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _ApiHandler.make(state)
    )
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    sleeps: list[float] = []
    try:
        fetcher = http_json_fetcher(
            f"http://127.0.0.1:{port}/api/addresses/{{key}}/transactions",
            paginate=True,
            max_retries=2,
            backoff_base_sec=0.01,
            sleeper=sleeps.append,
        )
        # pagination: 3 + 2 rows, stops at the empty page
        rows = fetcher("mintA")
        assert [r["signature"] for r in rows] == [
            "mintA-p0-0", "mintA-p0-1", "mintA-p0-2",
            "mintA-p1-0", "mintA-p1-1",
        ]
        assert sleeps == []

        # one 429 then success: Retry-After: 0 wins over backoff
        rows = fetcher("throttled")
        assert len(rows) == 5
        assert sleeps == [0.0]

        # permanent 500: exponential backoff then a clear error
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="after 3 attempts"):
            fetcher("broken")
        assert sleeps[1:] == [0.01, 0.02]

        # and the transport slots straight into the S2 source
        from pyspark.sql.types import StringType, StructField, StructType

        df = fetch_batch_to_dataframe(
            spark,
            ["mintA", "mintB"],
            fetcher,
            StructType(
                [
                    StructField("mint", StringType()),
                    StructField("signature", StringType()),
                ]
            ),
        )
        assert df.count() == 10
        assert df.filter(df.mint == "mintB").count() == 5
    finally:
        server.shutdown()
        server.server_close()


def test_retry_after_http_date_forms_parse_to_delays():
    """RFC 7231: Retry-After may be delay-seconds OR an HTTP-date —
    float() on the date form used to raise ValueError and turn rate
    limiting into job failure."""
    import email.utils
    import time as _time

    from solana_etl_pipeline_spark.sources.rest import _retry_after_seconds

    assert _retry_after_seconds("3", 9.0) == 3.0
    assert _retry_after_seconds(None, 9.0) == 9.0
    date_header = email.utils.formatdate(_time.time() + 5, usegmt=True)
    assert 0.0 <= _retry_after_seconds(date_header, 9.0) <= 6.0
    # a date in the past clamps to zero rather than sleeping negative
    past = email.utils.formatdate(_time.time() - 60, usegmt=True)
    assert _retry_after_seconds(past, 9.0) == 0.0
    # garbage falls back to exponential backoff
    assert _retry_after_seconds("soon-ish", 9.0) == 9.0


def test_http_fetcher_object_page_and_header_case_and_quoting():
    """Review r15 trio: an object-per-page response stops pagination
    after one page (no progress signal — the old code ran all
    max_pages); a lowercase ``retry-after`` header is honored; keys
    are percent-encoded so reserved characters cannot truncate the
    URL."""
    import http.server
    import json as _json
    import threading

    from solana_etl_pipeline_spark.sources.rest import http_json_fetcher

    state = {"requests": [], "throttled": False}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            state["requests"].append(self.path)
            key = self.path.strip("/").split("/")[1].split("?")[0]
            if key == "throttled-lc" and not state["throttled"]:
                state["throttled"] = True
                self.send_response(429)
                # legal per RFC 7230; common behind h2 proxies
                self.send_header("retry-after", "7")
                self.end_headers()
                return
            body = _json.dumps({"note": key}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    sleeps: list[float] = []
    try:
        fetcher = http_json_fetcher(
            f"http://127.0.0.1:{port}/k/{{key}}",
            paginate=True,
            max_retries=2,
            backoff_base_sec=0.01,
            sleeper=sleeps.append,
        )
        # object page: exactly one request, one record, stop
        n_before = len(state["requests"])
        rows = fetcher("plain")
        assert rows == [{"note": "plain"}]
        assert len(state["requests"]) == n_before + 1

        # lowercase retry-after wins over the 0.01s backoff
        rows = fetcher("throttled-lc")
        assert rows == [{"note": "throttled-lc"}]
        assert sleeps == [7.0]

        # reserved characters in the key are percent-encoded
        fetcher("a b#c")
        assert any("/k/a%20b%23c?" in r for r in state["requests"])
    finally:
        server.shutdown()
        server.server_close()
