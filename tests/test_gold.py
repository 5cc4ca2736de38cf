"""Gold-layer tests: the full medallion path bronze → silver → gold
over reference-true columns, plus malformed-record tolerance.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.pipelines import gold as gold_module
from solana_etl_pipeline_spark.pipelines.gold import (
    build_risk_gold,
    published_gold,
    refresh_gold,
    write_gold,
)
from solana_etl_pipeline_spark.pipelines.normalize import (
    dispatch_and_flatten,
    normalize_websocket_messages,
)
from solana_etl_pipeline_spark.schemas import (
    CLEANED_TRANSACTIONS,
    EVENTS,
    RISK_GOLD,
)
from solana_etl_pipeline_spark.sources.sinks import read_json_dir
from tests.conftest import drain_silver


def _wrapped_doc(mint: str, sigs: list[str], accounts: list[tuple[str, str]]):
    return json.dumps(
        {
            "metadata": {"token_name": f"Tok-{mint}", "token_symbol": "TK",
                         "mint": mint},
            "transactions": [
                {
                    "signature": sig,
                    "type": "SWAP",
                    "timestamp": 1700000000 + i,
                    "tokenTransfers": [
                        {"fromUserAccount": fr, "toUserAccount": to,
                         "tokenAmount": 1.0, "mint": mint,
                         "tokenStandard": "Fungible"}
                    ],
                }
                for i, (sig, (fr, to)) in enumerate(zip(sigs, accounts))
            ],
        }
    )


def test_bronze_to_gold_end_to_end(spark, tmp_path):
    """Full medallion path: raw docs -> silver parquet -> gold risk
    table; a mint with many distinct holders scores safer than one
    where a single account does everything."""
    docs = [
        # diverse mint: 4 txns, 4 distinct holders/buyers
        _wrapped_doc(
            "mintDiverse",
            [f"s{i}" for i in range(4)],
            [(f"buyer{i}", f"holder{i}") for i in range(4)],
        ),
        # concentrated mint: 4 txns, one account both sides
        _wrapped_doc(
            "mintConc",
            [f"c{i}" for i in range(4)],
            [("whale", "whale")] * 4,
        ),
    ]
    silver_path = drain_silver(
        spark, tmp_path, helius=docs,
        ws=[json.dumps({"mint": "mintWs", "txType": "create"})])

    gold_path = str(tmp_path / "gold")
    gold = refresh_gold(spark, silver_path, gold_path)
    rows = {r.mint: r for r in gold.collect()}
    assert rows["mintDiverse"].unique_holders == 4
    assert rows["mintConc"].unique_holders == 1
    assert (
        rows["mintDiverse"].safety_score > rows["mintConc"].safety_score
    )
    assert rows["mintDiverse"].token_name == "Tok-mintDiverse"

    top = gold.orderBy(F.desc("safety_score"), F.asc("mint")).first()
    assert top.mint == "mintDiverse"


def test_gold_token_name_enrichment(spark):
    # silver-shaped rows in memory: no dedup is under test, and the
    # silver chain (build_silver) only runs as a stream
    silver = dispatch_and_flatten(spark.createDataFrame(
        [Row(raw=_wrapped_doc("m1", ["s1"], [("a", "b")]))]
    )).unionByName(normalize_websocket_messages(
        spark.createDataFrame([Row(raw=json.dumps({"mint": "zz"}))])))
    dim = spark.createDataFrame([Row(mint="m1", token_name="FromAPI")])
    gold = build_risk_gold(silver, token_names=dim)
    rows = {r.mint: r.token_name for r in gold.collect()}
    assert rows["m1"] == "FromAPI"
    assert rows["zz"] == "Unknown"  # dim miss -> default (J1)


def test_dropmalformed_json_rows(spark, tmp_path):
    """P12: corrupt records drop instead of crashing the batch."""
    landing = tmp_path / "landing"
    landing.mkdir()
    good = {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": 2,
            "event_type": "purchase", "value": 1.5, "props": "{}"}
    with open(landing / "f1.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write("{not valid json at all\n")
        f.write(json.dumps({**good, "event_id": 2}) + "\n")
    df = read_json_dir(spark, str(landing), EVENTS, mode="DROPMALFORMED")
    ids = sorted(r.event_id for r in df.collect())
    assert ids == [1, 2]


def test_gold_prefers_real_name_over_empty_pad(spark):
    """Review r15: a bare-shape row pads token_name with "" — the
    name aggregation must prefer a real name over the pad regardless
    of signature ordering (min_by(token_name, signature) could pick
    "" from a lexicographically smaller signature)."""
    import datetime as _dt

    cols = CLEANED_TRANSACTIONS.fieldNames()

    def row(sig, name, ts):
        base = {c: "" for c in cols}
        base.update(
            mint="M", signature=sig, token_name=name, ts=ts,
            fee=0, slot=0, token_amount=1.0, type="buy",
            from_account="f", to_account="t",
        )
        return Row(**{c: base[c] for c in cols})

    silver = spark.createDataFrame(
        [
            # "0sig" sorts before "zsig": the old min_by picked ""
            row("0sig", "", _dt.datetime(2024, 1, 1)),
            row("zsig", "RealName", _dt.datetime(2024, 1, 2)),
        ]
    )
    gold = build_risk_gold(silver)
    assert {r.token_name for r in gold.collect()} == {"RealName"}


def _silver(spark, tmp_path) -> str:
    """Silver of two wrapped documents and one websocket message."""
    return drain_silver(
        spark, tmp_path,
        helius=[_wrapped_doc("m1", ["s1", "s2"], [("a", "b"), ("c", "d")]),
                _wrapped_doc("m2", ["s3"], [("e", "f")])],
        ws=[json.dumps({"mint": "m3"})])


def _versions(gold_path: str) -> list[str]:
    return sorted(
        n for n in os.listdir(gold_path)
        if os.path.isdir(os.path.join(gold_path, n))
    )


def test_refresh_keeps_the_new_and_the_previous_version(spark, tmp_path):
    """Each refresh publishes a new version directory and a pointer to
    it; the version and pointer before them stay for readers still
    collecting it, older ones go."""
    silver_path, gold_path = _silver(spark, tmp_path), str(tmp_path / "gold")
    published = []
    for _ in range(3):
        gold = refresh_gold(spark, silver_path, gold_path)
        published.append(published_gold(spark, silver_path))
        assert {r.mint for r in gold.collect()} == {"m1", "m2", "m3"}
    assert len(set(published)) == 3
    assert _versions(gold_path) == sorted(
        p.rsplit("/", 1)[1] for p in published[1:]
    )
    # the pointers of those two versions stay, invisible to silver's
    # readers
    assert sorted(
        n for n in os.listdir(silver_path) if n.startswith("_gold")
    ) == ["_gold." + p.rsplit("/", 1)[1] for p in published[1:]]
    assert spark.read.parquet(silver_path).count() == 4


def test_refresh_over_a_gold_path_of_the_previous_release(spark, tmp_path):
    """A gold path written in place (part files at its root, as the
    previous release wrote it) still refreshes; the old table goes."""
    silver_path, gold_path = _silver(spark, tmp_path), str(tmp_path / "gold")
    write_gold(build_risk_gold(spark.read.parquet(silver_path)), gold_path)
    assert any(n.startswith("part-") for n in os.listdir(gold_path))
    gold = refresh_gold(spark, silver_path, gold_path)
    assert {r.mint for r in gold.collect()} == {"m1", "m2", "m3"}
    assert [n for n in os.listdir(gold_path) if not n.startswith(".")] == (
        _versions(gold_path)
    )
    assert len(_versions(gold_path)) == 1


def _columns(schema) -> list[tuple]:
    return [(f.name, f.dataType) for f in schema]


def test_built_gold_has_the_declared_schema(spark, tmp_path):
    """``build_risk_gold`` builds ``RISK_GOLD``'s columns, in its order
    and with its types, with and without a names dim; a refresh's read
    by ``RISK_GOLD`` gives the rows a read of the files' own schema
    does."""
    silver_path = _silver(spark, tmp_path)
    silver = spark.read.parquet(silver_path)
    dim = spark.createDataFrame([Row(mint="m1", token_name="FromAPI")])
    assert _columns(build_risk_gold(silver).schema) == _columns(RISK_GOLD)
    assert _columns(build_risk_gold(silver, dim).schema) == (
        _columns(RISK_GOLD)
    )
    gold = refresh_gold(spark, silver_path, str(tmp_path / "gold"))
    inferred = spark.read.parquet(published_gold(spark, silver_path))
    assert _columns(inferred.schema) == _columns(RISK_GOLD)
    assert sorted(gold.collect()) == sorted(inferred.collect())


@pytest.mark.parametrize("drift", [
    lambda g: g.withColumn("safety_score", F.col("safety_score").cast("int")),
    lambda g: g.withColumnRenamed("token_name", "name"),
    lambda g: g.withColumn("extra", F.lit(1)),
], ids=["type", "name", "extra"])
def test_refresh_refuses_a_drifted_build(spark, tmp_path, monkeypatch, drift):
    """A build whose columns differ from ``RISK_GOLD`` raises before
    anything is written: no Spark job, no version, no pointer."""
    silver_path, gold_path = _silver(spark, tmp_path), str(tmp_path / "gold")
    build = gold_module.build_risk_gold
    monkeypatch.setattr(
        gold_module, "build_risk_gold", lambda *a: drift(build(*a))
    )
    sc = spark.sparkContext
    sc.setJobGroup("drifted-refresh", "refresh of a drifted build")
    try:
        with pytest.raises(ValueError, match="RISK_GOLD"):
            refresh_gold(spark, silver_path, gold_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("drifted-refresh") == []
    assert not os.path.exists(gold_path)
    assert not [n for n in os.listdir(silver_path) if "_gold" in n]
