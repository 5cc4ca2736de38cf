"""Live-ingest shim tests: an in-process RFC 6455 server feeds the
socket→landing→``build_silver``→silver path end-to-end (reference
``my_websocket.py:47-69`` semantics, exactly-once included)."""

from __future__ import annotations

import asyncio
import json

import pytest
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.sources.live_socket import (
    OP_CLOSE,
    OP_PING,
    OP_TEXT,
    _accept_key,
    encode_frame,
    read_frame,
    run_live_ingest,
)
from solana_etl_pipeline_spark.streaming.ingest import (
    run_available_now_to_parquet,
)
from tests.conftest import dropped_duplicates, silver_stream


def _msg(i: int, pad: str = "") -> dict:
    return {
        "mint": f"MINT{i}",
        "txType": "create" if i % 2 else "buy",
        "solAmount": round(0.5 * i, 4),
        "name": f"Token {i}{pad}",
        "symbol": f"T{i}",
    }


async def _start_fake_server(
    messages: list[dict], received_subs: list, server_ssl=None
):
    """Server half of the handshake + frames: enough RFC 6455 to host
    the client — reads the subscription, pings once (exercising the
    client's pong), streams messages, closes. ``server_ssl`` turns it
    into a ``wss://`` endpoint."""

    async def handler(reader, writer):
        key = None
        while True:
            line = await reader.readline()
            if line in (b"\r\n", b""):
                break
            if line.lower().startswith(b"sec-websocket-key:"):
                key = line.split(b":", 1)[1].strip().decode()
        writer.write(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
            ).encode()
        )
        await writer.drain()
        _fin, opcode, payload = await read_frame(reader)
        assert opcode == OP_TEXT
        received_subs.append(json.loads(payload.decode()))
        writer.write(encode_frame(b"hb", OP_PING, mask=False))
        for m in messages:
            writer.write(
                encode_frame(json.dumps(m).encode(), OP_TEXT, mask=False)
            )
        writer.write(encode_frame(b"", OP_CLOSE, mask=False))
        await writer.drain()
        # wait for the client's pong + close echo, then drop
        try:
            while True:
                _f, op, _ = await read_frame(reader)
                if op == OP_CLOSE:
                    break
        except asyncio.IncompleteReadError:
            pass
        writer.close()

    return await asyncio.start_server(
        handler, "127.0.0.1", 0, ssl=server_ssl
    )


def _ingest(
    messages: list[dict],
    landing: str,
    prefix: str,
    server_ssl=None,
    client_ssl=None,
    host: str = "127.0.0.1",
) -> tuple[int, list]:
    scheme = "wss" if server_ssl else "ws"

    async def run():
        subs = []
        server = await _start_fake_server(messages, subs, server_ssl)
        port = server.sockets[0].getsockname()[1]
        try:
            n = await run_live_ingest(
                f"{scheme}://{host}:{port}/stream",
                landing,
                subscriptions=[{"method": "subscribeRaydiumLiquidity"}],
                prefix=prefix,
                ssl_context=client_ssl,
            )
        finally:
            server.close()
            await server.wait_closed()
        return n, subs

    return asyncio.run(run())


def test_live_socket_to_silver_exactly_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 — includes a >125-byte message to cover the 16-bit
    # frame-length path
    batch1 = [_msg(i, pad="x" * 150 if i == 3 else "") for i in range(20)]
    n, subs = _ingest(batch1, f"{landing}/ws", prefix="a")
    assert n == 20
    assert subs == [{"method": "subscribeRaydiumLiquidity"}]

    def drain():
        query = run_available_now_to_parquet(
            silver_stream(spark, landing), silver, ckpt)
        return spark.read.parquet(silver), query

    got, _ = drain()
    assert got.count() == 20
    assert {r.mint for r in got.select("mint").collect()} == {
        f"MINT{i}" for i in range(20)
    }
    # the long-name message survived frame re-assembly intact, and
    # silver holds it normalized
    assert "name" not in got.columns
    long_name = got.filter(F.col("mint") == "MINT3").collect()[0].token_name
    assert long_name == "Token 3" + "x" * 150

    # re-drain with the same checkpoint: nothing reprocessed (T5)
    assert drain()[0].count() == 20

    # batch 2 over a fresh socket session lands alongside batch 1; the
    # checkpointed source picks up ONLY the new files, and the dedup
    # drops the exact redelivery of a batch-1 message among them
    n2, _ = _ingest([_msg(100 + i) for i in range(5)] + [batch1[0]],
                    f"{landing}/ws", prefix="b")
    assert n2 == 6
    final, query = drain()
    assert final.count() == 25
    assert dropped_duplicates(query) == 1
    # exactly-once across the whole path: no duplicate (mint, signature)
    assert final.select("mint", "signature").distinct().count() == 25


def _self_signed_cert(tmp_path):
    """Self-signed localhost certificate for the in-process TLS server
    (CA:TRUE so it validates as its own root; SAN covers localhost and
    127.0.0.1 for hostname verification)."""
    import datetime
    import ipaddress

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name(
        [x509.NameAttribute(NameOID.COMMON_NAME, "localhost")]
    )
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(days=1))
        .not_valid_after(now + datetime.timedelta(days=1))
        .add_extension(
            x509.SubjectAlternativeName(
                [
                    x509.DNSName("localhost"),
                    x509.IPAddress(ipaddress.ip_address("127.0.0.1")),
                ]
            ),
            critical=False,
        )
        .add_extension(
            x509.BasicConstraints(ca=True, path_length=None), critical=True
        )
        .sign(key, hashes.SHA256())
    )
    cert_path = tmp_path / "cert.pem"
    key_path = tmp_path / "key.pem"
    cert_path.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    key_path.write_bytes(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption(),
        )
    )
    return str(cert_path), str(key_path)


def test_live_socket_wss_tls_to_silver(spark, tmp_path):
    """The production path shape: wss:// with a verifying SSLContext
    (here trusting the test server's self-signed cert as its root),
    full socket -> landing -> ``build_silver`` -> silver."""
    import ssl

    pytest.importorskip("cryptography")
    cert_path, key_path = _self_signed_cert(tmp_path)

    server_ssl = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    server_ssl.load_cert_chain(cert_path, key_path)
    # a REAL verifying client context: CA check + hostname check both
    # on, exactly what create_default_context() does against public CAs
    client_ssl = ssl.create_default_context(cafile=cert_path)
    assert client_ssl.check_hostname and (
        client_ssl.verify_mode == ssl.CERT_REQUIRED
    )

    landing = str(tmp_path / "landing")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    msgs = [_msg(i) for i in range(7)]
    # the last message is an exact redelivery, which silver drops
    n, subs = _ingest(
        msgs + [msgs[0]],
        f"{landing}/ws",
        prefix="tls",
        server_ssl=server_ssl,
        client_ssl=client_ssl,
        host="localhost",
    )
    assert n == 8
    assert subs == [{"method": "subscribeRaydiumLiquidity"}]

    query = run_available_now_to_parquet(
        silver_stream(spark, landing), silver, ckpt)
    got = spark.read.parquet(silver)
    assert got.count() == 7
    assert dropped_duplicates(query) == 1
    assert {(r.mint, r.token_name) for r in got.collect()} == {
        (f"MINT{i}", f"Token {i}") for i in range(7)
    }


def test_live_socket_wss_rejects_untrusted_cert(tmp_path):
    """A default-verifying context must refuse the self-signed server:
    proves the TLS path actually verifies rather than blindly wrapping."""
    import ssl

    pytest.importorskip("cryptography")
    cert_path, key_path = _self_signed_cert(tmp_path)
    server_ssl = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    server_ssl.load_cert_chain(cert_path, key_path)

    # system trust store does not contain our throwaway root
    client_ssl = ssl.create_default_context()
    with pytest.raises(ssl.SSLError):
        _ingest(
            [_msg(0)],
            str(tmp_path / "landing"),
            prefix="x",
            server_ssl=server_ssl,
            client_ssl=client_ssl,
            host="localhost",
        )


def test_live_socket_ssl_context_with_ws_uri_rejected(tmp_path):
    """ssl_context + ws:// is a downgrade mistake, not a request."""
    import ssl

    from solana_etl_pipeline_spark.sources.live_socket import (
        websocket_connect,
    )

    with pytest.raises(ValueError, match="ws://"):
        asyncio.run(
            websocket_connect(
                "ws://127.0.0.1:1/", ssl_context=ssl.create_default_context()
            )
        )


def test_fragmented_text_message_is_assembled(tmp_path):
    """RFC 6455 §5.4: a text message split across a FIN=0 text frame,
    a FIN=0 continuation, an interleaved PING, and a FIN=1
    continuation must arrive as ONE message; a reconnect into the
    same landing dir must not overwrite previously landed files."""
    import json as _json
    import os

    from solana_etl_pipeline_spark.sources.live_socket import (
        OP_CONT,
        _accept_key,
        run_live_ingest,
    )

    def raw_frame(payload: bytes, opcode: int, fin: bool) -> bytes:
        b0 = (0x80 if fin else 0) | opcode
        assert len(payload) < 126
        return bytes([b0, len(payload)]) + payload

    msg = _json.dumps({"mint": "mFrag", "txType": "buy"}).encode()
    third = len(msg) // 3

    async def handler(reader, writer):
        key = None
        while True:
            line = await reader.readline()
            if line in (b"\r\n", b""):
                break
            name, _, value = line.decode().partition(":")
            if name.strip().lower() == "sec-websocket-key":
                key = value.strip()
        writer.write(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
            ).encode()
        )
        writer.write(raw_frame(msg[:third], OP_TEXT, fin=False))
        writer.write(raw_frame(msg[third : 2 * third], OP_CONT, fin=False))
        writer.write(raw_frame(b"hb", OP_PING, fin=True))  # interleaved
        writer.write(raw_frame(msg[2 * third :], OP_CONT, fin=True))
        writer.write(raw_frame(b"", OP_CLOSE, fin=True))
        await writer.drain()

    landing = str(tmp_path / "landing")

    async def run():
        server = await asyncio.start_server(handler, "127.0.0.1", 0)
        port = server.sockets[0].getsockname()[1]
        try:
            return await run_live_ingest(
                f"ws://127.0.0.1:{port}/s", landing, max_messages=1
            )
        finally:
            server.close()
            await server.wait_closed()

    assert asyncio.run(run()) == 1
    files = sorted(os.listdir(landing))
    assert files == ["msg-000000000000.json"]
    with open(os.path.join(landing, files[0])) as f:
        assert _json.load(f) == {"mint": "mFrag", "txType": "buy"}

    # second run into the SAME landing dir resumes numbering past the
    # existing file instead of renaming over it
    assert asyncio.run(run()) == 1
    assert sorted(os.listdir(landing)) == [
        "msg-000000000000.json",
        "msg-000000000001.json",
    ]


def test_stale_fragment_buffer_cleared_by_complete_text_frame(tmp_path):
    """A server that (violating RFC 6455 §5.4) abandons a fragmented
    message and sends a complete FIN=1 TEXT frame must not leave the
    stale fragment buffer armed: a later stray continuation frame
    would otherwise be appended to it and the joined garbage would
    kill the generator inside json.loads. Expected: the complete
    messages arrive, the abandoned fragment and the stray continuation
    are dropped."""
    import json as _json
    import os

    from solana_etl_pipeline_spark.sources.live_socket import (
        OP_CONT,
        _accept_key,
        run_live_ingest,
    )

    def raw_frame(payload: bytes, opcode: int, fin: bool) -> bytes:
        b0 = (0x80 if fin else 0) | opcode
        assert len(payload) < 126
        return bytes([b0, len(payload)]) + payload

    msg2 = _json.dumps({"mint": "mWhole", "txType": "buy"}).encode()
    msg3 = _json.dumps({"mint": "mAfter", "txType": "sell"}).encode()

    async def handler(reader, writer):
        key = None
        while True:
            line = await reader.readline()
            if line in (b"\r\n", b""):
                break
            name, _, value = line.decode().partition(":")
            if name.strip().lower() == "sec-websocket-key":
                key = value.strip()
        writer.write(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
            ).encode()
        )
        # abandoned fragment start (never completed)...
        writer.write(raw_frame(b'{"mint": "mAband', OP_TEXT, fin=False))
        # ...interrupted by a complete message (must clear the buffer)
        writer.write(raw_frame(msg2, OP_TEXT, fin=True))
        # stray continuation: joined with the stale buffer pre-fix,
        # dropped post-fix
        writer.write(raw_frame(b'oned"}', OP_CONT, fin=True))
        writer.write(raw_frame(msg3, OP_TEXT, fin=True))
        writer.write(raw_frame(b"", OP_CLOSE, fin=True))
        await writer.drain()

    landing = str(tmp_path / "landing")

    async def run():
        server = await asyncio.start_server(handler, "127.0.0.1", 0)
        port = server.sockets[0].getsockname()[1]
        try:
            return await run_live_ingest(
                f"ws://127.0.0.1:{port}/s", landing, max_messages=2
            )
        finally:
            server.close()
            await server.wait_closed()

    assert asyncio.run(run()) == 2
    files = sorted(os.listdir(landing))
    assert len(files) == 2
    got = []
    for f in files:
        with open(os.path.join(landing, f)) as fh:
            got.append(_json.load(fh)["mint"])
    assert got == ["mWhole", "mAfter"]


def test_handshake_preserves_query_string_and_host_header():
    """Review r15: the reference's endpoint family authenticates via
    ``ws(s)://host/?api-key=...`` — the GET line must carry the query
    string, and the Host header must include the (non-default) port;
    a non-JSON text frame must be skipped, not kill the generator."""
    import asyncio

    from solana_etl_pipeline_spark.sources.live_socket import (
        OP_TEXT,
        _accept_key,
        encode_frame,
        websocket_messages,
    )

    captured: dict = {}

    async def scenario():
        async def handler(reader, writer):
            key = None
            lines = []
            while True:
                line = await reader.readline()
                if line in (b"\r\n", b""):
                    break
                lines.append(line.decode().rstrip("\r\n"))
                if line.lower().startswith(b"sec-websocket-key:"):
                    key = line.split(b":", 1)[1].strip().decode()
            captured["request_line"] = lines[0]
            captured["headers"] = lines[1:]
            writer.write(
                (
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
                ).encode()
            )
            await writer.drain()
            # a plain-text keepalive, then a real message, then EOF
            writer.write(encode_frame(b"pong", OP_TEXT, mask=False))
            writer.write(
                encode_frame(b'{"mint": "M1"}', OP_TEXT, mask=False)
            )
            await writer.drain()
            writer.close()

        server = await asyncio.start_server(handler, "127.0.0.1", 0)
        port = server.sockets[0].getsockname()[1]
        got = []
        async for msg in websocket_messages(
            f"ws://127.0.0.1:{port}/stream?api-key=SECRET"
        ):
            got.append(msg)
        server.close()
        await server.wait_closed()
        return got, port

    got, port = asyncio.run(scenario())
    # the non-JSON keepalive was skipped, the JSON message served
    assert got == [{"mint": "M1"}]
    assert captured["request_line"] == (
        "GET /stream?api-key=SECRET HTTP/1.1"
    )
    host_headers = [
        h for h in captured["headers"] if h.lower().startswith("host:")
    ]
    assert host_headers == [f"Host: 127.0.0.1:{port}"]
