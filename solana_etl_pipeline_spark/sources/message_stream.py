"""Message landing for the streaming source (SURVEY.md §2.1 S1).

The reference holds a WebSocket open and writes one S3 object per
message (``my_websocket.py:62-69,31-45``). The Spark-native path
replaces it with a landing-writer indirection (SURVEY §7 Step 6): a
thin non-Spark async writer lands messages as files, and the engine
only ever sees ``spark.readStream.json(landing_dir)`` — see
:func:`write_messages_to_landing`. The engine never depends on a live
socket; :mod:`~solana_etl_pipeline_spark.sources.live_socket` feeds
this writer from one.
"""

from __future__ import annotations

import asyncio
import json
import os
from collections.abc import AsyncIterator


async def write_messages_to_landing(
    messages: AsyncIterator[dict],
    landing_dir: str,
    prefix: str = "msg",
) -> int:
    """The thin landing writer (``my_websocket.py:31-45``
    re-done without the engine in the loop). One JSON file per message,
    monotonically numbered — a live deployment passes an async iterator
    wrapping its socket client; tests pass a fake iterator. Returns the
    number of files written."""
    os.makedirs(landing_dir, exist_ok=True)
    # Resume numbering AFTER any file already in the dir: restarting
    # at 0 on a reconnect would os.rename over the previous run's
    # files, and Spark's file source tracks seen files by PATH — the
    # replaced message is never re-read and the new one never
    # ingested (silent loss on every restart).
    start = 0
    plen = len(prefix) + 1
    for name in os.listdir(landing_dir):
        if name.startswith(f"{prefix}-") and name.endswith(".json"):
            try:
                start = max(start, int(name[plen:-5]) + 1)
            except ValueError:
                continue

    def _write_one(idx: int, msg: dict) -> None:
        tmp = os.path.join(landing_dir, f".{prefix}-{idx:012d}.json.tmp")
        final = os.path.join(landing_dir, f"{prefix}-{idx:012d}.json")
        with open(tmp, "w") as f:
            json.dump(msg, f)
        os.rename(tmp, final)  # atomic: readers never see partial files

    n = 0
    async for msg in messages:
        # off the event loop: a disk stall inside a synchronous write
        # would otherwise block ping/pong servicing and get the socket
        # dropped by heartbeat-enforcing servers (review r15)
        await asyncio.to_thread(_write_one, start + n, msg)
        n += 1
    return n
