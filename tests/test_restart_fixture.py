"""Checkpoints written by an earlier version still restart.

Each directory under ``tests/fixtures/`` with a ``manifest.json`` holds
a 2-batch drain of the silver write chain that an earlier version
wrote with ``tools/write_restart_fixture.py``: its landing files,
checkpoint and silver. The test restarts it with today's chain (the
one ``perfbench/ingest.py``'s ``silver_stream`` builds) after landing
redeliveries of the fixture's keys and new rows, and checks that no key
is lost or duplicated, that every redelivered row is dropped, and that
the checkpoint's state partition count is kept.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import pytest

from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)
from solana_etl_pipeline_spark.streaming.ingest import (
    run_available_now_to_parquet,
)

FIXTURES = Path(__file__).parent / "fixtures"
MANIFESTS = sorted(FIXTURES.glob("*/manifest.json"))

#: Fixture landing files landed again under new names after the restart.
REDELIVERED = ("helius/000002.json", "ws/000003.json", "ws/000020.json")
#: Fixture landing files landed with every signature changed: new keys.
CHANGED = ("helius/000005.json", "ws/000011.json")


def _silver_stream(spark, landing: str):
    sys.path.insert(0, str(Path(__file__).parents[1] / "perfbench"))
    try:
        from ingest import silver_stream
    finally:
        sys.path.pop(0)
    return silver_stream(spark, landing)


def _relocate(src: Path, dst: Path, root: str) -> None:
    """Copy the fixture to ``dst`` and point the absolute ``file://``
    paths of the file source and sink logs at it. A rewritten log's
    checksum file would no longer match, so it goes."""
    shutil.copytree(src, dst)
    logs = [*dst.glob("checkpoint/sources/*/*"),
            *dst.glob("silver/_spark_metadata/*")]
    for log in logs:
        if log.name.startswith("."):
            continue
        text = log.read_text()
        assert root in text, log
        log.write_text(text.replace(root, f"file://{dst}"))
        (log.parent / f".{log.name}.crc").unlink(missing_ok=True)


def _logged_files(ckpt: Path) -> dict[str, int]:
    """Landing path → modification time (ms) in the file source logs."""
    seen = {}
    for log in ckpt.glob("sources/*/*"):
        if log.name.startswith("."):
            continue
        for line in log.read_text().splitlines()[1:]:
            entry = json.loads(line)
            seen[entry["path"]] = entry["timestamp"]
    return seen


def _keys(df) -> list[tuple[str, str]]:
    return [tuple(r) for r in df.select("mint", "signature").collect()]


@pytest.mark.parametrize("manifest", MANIFESTS, ids=lambda p: p.parent.name)
def test_fixture_checkpoint_restarts_without_loss_or_duplicates(
    spark, tmp_path, manifest
):
    meta = json.loads(manifest.read_text())
    fx = tmp_path / "fx"
    _relocate(manifest.parent, fx, meta["root"])
    landing, ckpt, silver = fx / "landing", fx / "checkpoint", fx / "silver"

    # the copies keep the modification times the source logs recorded,
    # and new files land just after them: the file source's age window
    # then keeps every fixture entry, whenever the test runs
    logged = _logged_files(ckpt)
    assert {p.removeprefix(f"file://{landing}/") for p in logged} == set(
        meta["landing_rows"])
    for path, ms in logged.items():
        os.utime(path.removeprefix("file://"), (ms / 1000, ms / 1000))
    t_new = max(logged.values()) / 1000

    before = _keys(spark.read.parquet(str(silver)))
    assert len(before) == len(set(before)) == meta["silver_rows"]

    new = []
    for i, rel in enumerate(REDELIVERED + CHANGED):
        text = (landing / rel).read_text()
        if rel in CHANGED:
            text = text.replace('"signature":"', '"signature":"r')
            assert text != (landing / rel).read_text()
        path = landing / rel.replace("/", f"/restart-{i:02d}-")
        path.write_text(text)
        os.utime(path, (t_new + 1 + i, t_new + 1 + i))
        new.append(path)

    helius = [str(p) for p in new if p.parent.name == "helius"]
    ws = [str(p) for p in new if p.parent.name == "ws"]
    arriving = _keys(dispatch_and_flatten(
        spark.read.text(helius).withColumnRenamed("value", "raw"))) + _keys(
        normalize_websocket_messages(
            spark.read.text(ws).withColumnRenamed("value", "raw")))
    redelivered = sum(meta["landing_rows"][rel] for rel in REDELIVERED)
    assert len(arriving) == redelivered + sum(
        meta["landing_rows"][rel] for rel in CHANGED)

    query = run_available_now_to_parquet(
        _silver_stream(spark, str(landing)), str(silver), str(ckpt))
    progress = [p for p in query.recentProgress if p.numInputRows]
    ops = [op for p in progress for op in p.stateOperators]

    # only the new files' lines were read: the relocated logs still name
    # the fixture's own landing files
    assert sum(p.numInputRows for p in progress) == sum(
        len(p.read_text().splitlines()) for p in new)
    after = _keys(spark.read.parquet(str(silver)))
    assert len(after) == len(set(after))
    assert set(after) == set(before) | set(arriving)
    assert len(after) == len(before) + len(arriving) - redelivered
    assert sum(op.customMetrics["numDroppedDuplicateRows"]
               for op in ops) == redelivered
    assert {op.numShufflePartitions for op in ops} == set(
        meta["state_partitions"])
