"""Silver → gold: the analytics tables the reference's dashboard reads
(``streamlit 1.3.txt:83-113,165-167``), over the TRUE cleaned-
transactions columns.

``queries/reference.py`` exercises the same operators against the
``events`` fixture for the oracle harness; this module is the
production wiring: silver (15-col) in → per-mint risk scores + token
names out, written in one pass; AQE sizes its files. This is the one
place risk is scored: the dashboard (``serving.Dashboard``) serves the
gold table a refresh publishes instead of the reference's re-scoring
on every cache expiry.

Publishing follows a sink's atomic commit rather than a directory being
written: each refresh writes a new version directory under the gold
path, then publishes a one-line pointer file of its own,
``<silver>/_gold.v<time_ns>-<id>``, by a rename to a name no file has;
the greatest pointer names the published version. Readers resolve it
(:func:`published_gold`) and, with :func:`gold_committed`, never keep
a missing or partial table. The pointers live in silver so that a
reader needs only the silver path; silver's reads never see them, since
its sink log names only parquet files and a plain listing skips
``_``-prefixed names.
"""

from __future__ import annotations

import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_pipeline_spark.operators.enrich import broadcast_enrich
from solana_etl_pipeline_spark.operators.risk import risk_scores
from solana_etl_pipeline_spark.schemas import RISK_GOLD
from solana_etl_pipeline_spark.sources.sinks import write_parquet

#: The reference's excluded quote mints (wSOL/USDT/USDC,
#: ``streamlit 1.3.txt:17-21``).
EXCLUDED_MINTS = [
    "So11111111111111111111111111111111111111112",
    "Es9vMFrzaCERmJfrF4H2FYD4KCoNkY11McCe8BenwNYB",
    "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v",
]
#: Name prefix of the pointer files in silver, ``_gold.<version>``,
#: that name the published gold versions.
GOLD_POINTER = "_gold"


def build_risk_gold(
    silver: DataFrame,
    token_names: DataFrame | None = None,
) -> DataFrame:
    """Per-mint risk table from the silver transactions table.

    Column mapping to the reference's metrics: holders = distinct
    ``to_account``; buyers = distinct ``from_account`` among SWAP-typed
    rows; plus the first-seen token name per mint (A6). ``token_names``
    is an optional (mint, token_name) dim — the DexScreener enrichment
    — applied as a broadcast join with 'Unknown' default (J1/D1).
    """
    scored = risk_scores(
        silver,
        key="mint",
        holder_col="to_account",
        buyer_col="from_account",
        buy_type_col="type",
        buy_type_value="SWAP",
        excluded_keys=EXCLUDED_MINTS,
    )
    if token_names is not None:
        # the dim wins outright — don't build (and shuffle) the
        # full-silver names aggregation just to drop its one column
        # (review r15)
        return broadcast_enrich(
            scored, token_names, key="mint", value_col="token_name"
        )
    # first-seen name per mint, with a REAL name preferred over the
    # bare-shape "" pad: order by (is-empty, ts, signature) and take
    # the minimum — plain min_by(token_name, signature) could pick ""
    # from a lexicographically-small signature over an actual name
    # (review r15). Null ts (websocket rows) sorts after dated rows.
    name_order = F.struct(
        (F.coalesce(F.col("token_name"), F.lit("")) == "")
        .cast("int")
        .alias("is_empty"),
        F.coalesce(
            F.col("ts"), F.lit("9999-12-31 00:00:00").cast("timestamp")
        ).alias("ts"),
        F.col("signature").alias("sig"),
    )
    names = silver.groupBy("mint").agg(
        F.min_by("token_name", name_order).alias("token_name")
    )
    return scored.join(names, "mint", "left")


def write_gold(gold: DataFrame, path: str) -> None:
    """Gold is one row per mint — small at sf0.1, but the mint
    dimension is exactly what grows with the corpus, so a fixed
    ``coalesce(1)`` would funnel the whole refresh through one task at
    100× scale. The ``rebalance`` hint hands the file count to AQE
    (on in every engine session, ``session.RUNTIME_CONFS``), which
    sizes the write partitions from the shuffled bytes: one file for a
    small table, more as it grows. One write, with nothing persisted
    or counted first. ``path`` is a fresh version directory on every
    refresh (:func:`refresh_gold`), so a write never replaces the table
    a reader is on."""
    write_parquet(gold.hint("rebalance"), path, mode="overwrite")




def refresh_gold(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    token_names: DataFrame | None = None,
) -> DataFrame:
    """One refresh: read silver, score it, publish it as gold.

    The scores are written to a new version directory
    ``gold_path/v<time_ns>-<id>``; then a pointer file of its own,
    ``<silver_path>/_gold.v<time_ns>-<id>``, is published by renaming
    a temp file to that name, which no file has yet, so readers move
    from the previous version to this one in one step. Last, older
    pointers and every other entry of ``gold_path`` are deleted except
    the previous pointer and its version, which a reader may still be
    collecting; that includes a table an older release wrote at the
    root of ``gold_path``. A version loses its ``_SUCCESS`` marker
    before its files (see :func:`gold_committed`). One writer refreshes
    a gold path at a time.

    Returns a read of the new version, NOT the build plan: nothing is
    persisted, so returning the build would make every caller use
    re-run the full silver scan + risk aggregation."""
    from solana_etl_pipeline_spark.pipelines.bronze_silver import read_silver

    Path = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    root = Path(gold_path)
    fs = root.getFileSystem(conf)
    root = fs.makeQualified(root)
    gold = build_risk_gold(read_silver(spark, silver_path), token_names)
    built, declared = _columns(gold.schema), _columns(RISK_GOLD)
    if built != declared:
        raise ValueError(
            f"the gold built from {silver_path} has columns {built}, "
            f"not schemas.RISK_GOLD's {declared}"
        )
    name = f"v{time.time_ns()}-{uuid.uuid4().hex[:8]}"
    version = Path(root, name).toString()
    write_gold(gold, version)
    older = _pointers(spark, silver_path)
    _publish_pointer(spark, silver_path, name, version)
    keep = {name}
    if older:  # the previous version, named by its pointer's suffix
        keep.add(older[-1].getName()[len(GOLD_POINTER) + 1:])
    for pointer in older[:-1]:
        pointer.getFileSystem(conf).delete(pointer, False)
    for st in fs.listStatus(root):
        if st.getPath().getName() not in keep:
            if st.isDirectory():
                fs.delete(Path(st.getPath(), "_SUCCESS"), False)
            fs.delete(st.getPath(), True)
    return spark.read.schema(RISK_GOLD).parquet(version)


def _columns(schema) -> list[tuple[str, str]]:
    """A schema's (name, type) pairs in order; nullability aside, since
    a Parquet read makes every column nullable."""
    return [(f.name, f.dataType.simpleString()) for f in schema]


def published_gold(spark: SparkSession, silver_path: str) -> str:
    """The qualified path of the gold version last published for
    ``silver_path``, named by its greatest pointer;
    ``FileNotFoundError`` when none is (no refresh yet). A pointer
    deleted between the listing and its read has a newer one, so the
    listing is taken again."""
    while pointers := _pointers(spark, silver_path):
        fs = pointers[-1].getFileSystem(spark._jsc.hadoopConfiguration())
        try:
            stream = fs.open(pointers[-1])
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() != (
                "java.io.FileNotFoundException"
            ):
                raise
            continue
        jio = spark._jvm.java.io
        try:
            return jio.BufferedReader(
                jio.InputStreamReader(stream, "UTF-8")
            ).readLine()
        finally:
            stream.close()
    raise FileNotFoundError(
        f"no gold is published for silver {silver_path}: run "
        "refresh_gold over it"
    )


def gold_committed(spark: SparkSession, version: str) -> bool:
    """Whether the gold version still has its ``_SUCCESS`` marker.
    :func:`refresh_gold` deletes a version's marker before its files,
    so a read of ``version`` that finished while the marker was there
    read the whole table; after it finds none, the read may have
    missed files and must be taken again."""
    marker = spark._jvm.org.apache.hadoop.fs.Path(version, "_SUCCESS")
    return marker.getFileSystem(spark._jsc.hadoopConfiguration()).exists(
        marker
    )


def _pointers(spark: SparkSession, silver_path: str) -> list:
    """The gold pointers in silver, oldest first (Hadoop ``Path``s;
    the 19-digit ``time_ns`` in their names sorts them)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    pattern = Path(silver_path, f"{GOLD_POINTER}.v*")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    found = fs.globStatus(pattern) or []
    return sorted((st.getPath() for st in found), key=lambda p: p.getName())


def _publish_pointer(
    spark: SparkSession, silver_path: str, name: str, target: str
) -> None:
    """Publish ``<silver_path>/_gold.<name>`` reading ``target``: write
    a dot-prefixed temp file, then rename it to the pointer's name.
    No file has that name, so the plain rename is atomic on a local
    filesystem and on HDFS, and a reader sees no pointer or the whole
    one."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    pointer = Path(silver_path, f"{GOLD_POINTER}.{name}")
    tmp = Path(silver_path, f".{GOLD_POINTER}.{name}.tmp")
    fs = pointer.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, False)
    try:
        out.write(f"{target}\n".encode())
    finally:
        out.close()
    if not fs.rename(tmp, pointer):
        fs.delete(tmp, False)
        raise OSError(f"could not publish the gold pointer {pointer}")
