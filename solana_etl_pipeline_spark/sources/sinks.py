"""File sources & sinks (SURVEY.md §2.1 S4-S10).

The reference hand-rolls every one of these against boto3 — paginated
listings (S5/S9), one-object-per-record JSON puts (S4), StringIO CSV
round-trips (S7/S8), and a 60-line incremental Parquet writer with
manual schema harmonization (S10, ``clean_data.py:305-365``). Each maps
to one Spark reader/writer call; the harmonize dance is
``mergeSchema``/``unionByName``. Table sinks write plain parquet
directories.

Scale posture: writers take explicit ``partition_cols`` — at 100 TB the
silver tables are partitioned by event date so per-day queries prune to
1/365th of the scan; readers push filters and projections into the
parquet footers (verified by `.explain` in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4: JSON sink (newline-delimited objects, one dir per table —
    replaces one-S3-object-per-record, ``my_websocket.py:31-45``)."""
    df.write.mode(mode).json(path)


def read_json_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    path_glob: str | None = None,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S5/S6: schema-enforced JSON directory scan. ``path_glob`` is the
    reference's suffix predicate (P5, ``endswith('.json')``) pushed to
    the listing, not a row filter. ``mode='DROPMALFORMED'`` is the
    row-level form of the reference's skip-empty/corrupt-file guards
    (P12, ``clean_data.py:315-328``): bad records drop instead of
    crashing the batch."""
    reader = spark.read.schema(schema).option("mode", mode)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7: CSV sink with header (``cleandata1.py:43-47``)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    path_glob: str | None = None,
) -> DataFrame:
    """S8/S9: schema-enforced CSV directory scan (header skipped by
    contract, not inferred — inference is an extra full pass at scale)."""
    reader = spark.read.schema(schema).option("header", True)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S10-adjacent: ORC sink — the second columnar format Spark
    ships natively (zlib-compressed stripes, predicate-pushdown-
    capable scans like parquet). Lets the engine interoperate with
    Hive-era ORC lakes without an extra package."""
    df.write.mode(mode).orc(path)


def read_orc_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    path_glob: str | None = None,
) -> DataFrame:
    """Schema-enforced ORC directory scan (same contract as the
    parquet/CSV/JSON scans: the schema is pinned, never inferred)."""
    reader = spark.read.schema(schema)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "append",
) -> None:
    """S10: parquet table sink. Appends with a widened schema are
    legal — the read side harmonizes, which replaces the reference's
    null-fill/reorder writer loop (``clean_data.py:340-349``): a table
    with a declared schema (silver, ``schemas.CLEANED_TRANSACTIONS``)
    reads by it and null-fills the columns a file lacks; an undeclared
    one merges its footers (:func:`read_parquet_merged`)."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """S11 + harmonize: ``mergeSchema=true`` unions all footer schemas;
    files missing a column yield nulls — exactly the reference's
    first-file-wins + null-fill semantics, but symmetric."""
    return spark.read.option("mergeSchema", True).parquet(path)


def zorder_key(
    x: Column,
    x_min: Column,
    x_max: Column,
    y: Column,
    y_min: Column,
    y_max: Column,
    bits: int = 16,
) -> Column:
    """Morton (z-order) key over two numeric columns.

    A single-column sorted layout localizes only that column's
    min/max per file; filtering on a second column still scans every
    file. Interleaving the bits of both (min-max quantized to
    ``bits`` each) gives a 1-D sort order in which every file covers
    a bounded rectangle of BOTH dimensions, so two-column range
    predicates prune on parquet row-group statistics — the standard
    multi-dimensional-clustering trick, as a plain codegen-friendly
    integer expression (no UDF).

    ``x_min``/``x_max``/``y_min``/``y_max`` are the global bounds
    (pass 1-row-aggregate columns via a broadcast crossJoin, or
    literals when known); degenerate ranges quantize to 0. Values
    outside the bounds (stale literal stats) clamp to the edge
    quantile — without the clamp an out-of-range coordinate's bits
    would spill into the other dimension's interleave positions and
    silently break the bounded-rectangle property.
    """
    scale = float((1 << bits) - 1)

    def _q(c: Column, lo: Column, hi: Column) -> Column:
        span = hi.cast("double") - lo.cast("double")
        frac = F.when(span > 0.0, (c.cast("double") - lo.cast("double")) / span)
        clamped = F.greatest(
            F.lit(0.0), F.least(F.lit(1.0), F.coalesce(frac, F.lit(0.0)))
        )
        return F.round(clamped * scale).cast("bigint")

    qx, qy = _q(x, x_min, x_max), _q(y, y_min, y_max)
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_x = F.shiftright(qx, i).bitwiseAND(F.lit(1))
        bit_y = F.shiftright(qy, i).bitwiseAND(F.lit(1))
        key = (
            key
            + F.shiftleft(bit_x, 2 * i)
            + F.shiftleft(bit_y, 2 * i + 1)
        )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted by the two-column z-order key, so per-file min/max bound a
    rectangle in (x, y) and range filters on EITHER column prune."""
    bounds = df.select(
        F.min(x_col).alias("_xmin"),
        F.max(x_col).alias("_xmax"),
        F.min(y_col).alias("_ymin"),
        F.max(y_col).alias("_ymax"),
    )
    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_zkey",
        zorder_key(
            F.col(x_col),
            F.col("_xmin"),
            F.col("_xmax"),
            F.col(y_col),
            F.col("_ymin"),
            F.col("_ymax"),
            bits,
        ),
    )
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey", "_xmin", "_xmax", "_ymin", "_ymax")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Compact a directory of small parquet files to ~``target_file_bytes``
    files; returns the output file count.

    The reference's micro-batch loop (``cleandata1.py:36-51``) writes
    one object per record — the small-files problem in its purest
    form; at 100 TB a streaming sink emitting a file per micro-batch
    per partition produces millions of KB-sized files whose open/footer
    costs dominate scans. Sizing reads the actual on-disk bytes (not
    row counts, which mispredict wide/compressed tables), then
    rewrites in one job: ``repartition(n)`` for plain compaction or a
    ``repartitionByRange`` + ``sortWithinPartitions`` when ``sort_cols``
    is given, laying rows out for min/max row-group skipping on those
    columns. Listing, sizing, renames and deletes go through the
    path's Hadoop ``FileSystem``, so any filesystem Spark writes to
    (a ``file://`` URI included) compacts the same way.

    Hive-partitioned layouts (``col=value`` subdirectories) are
    compacted leaf-by-leaf, preserving the partition tree (so
    ``sort_cols`` must name data columns, not partition columns).
    Each leaf rewrite lands in a sibling temp dir and swaps in via
    rename; a failed rewrite or swap leaves the original directory in
    place, and a rename or delete that reports failure raises. The
    two-rename window is small but NOT atomic for concurrent
    readers — run this in the table's maintenance window; true
    reader-transparent compaction needs a table format whose commit
    is a metadata pointer swap, which plain parquet dirs don't have.

    A streaming file sink's output raises ``ValueError`` before
    anything is written: ``_spark_metadata`` in ``path`` or in any
    directory above it (a leaf such as ``silver/mint=M0`` of a
    partitioned sink). The sink's log names every file it committed,
    so a rewrite outside the stream cannot be made consistent with it,
    and the table would fail to read after the stream's next commit.
    Returns the output file count (0 for an empty directory).
    """
    import math
    import uuid

    Path = spark._jvm.org.apache.hadoop.fs.Path
    src = Path(path)
    fs = src.getFileSystem(spark._jsc.hadoopConfiguration())
    table = fs.makeQualified(src)
    while table is not None:
        if fs.exists(Path(table, "_spark_metadata")):
            raise ValueError(
                f"{path} is a streaming file sink's output: the "
                f"_spark_metadata log of {table.toString()} names every "
                "file, so compacting it outside the stream would make "
                "the table unreadable"
            )
        table = table.getParent()

    def listing(dirs: bool) -> dict:
        # name -> status, skipping dot/underscore-prefixed names: this
        # function's own in-flight temp/backup dirs (plus Spark markers
        # like _SUCCESS), which Spark's file listing and partition
        # discovery ignore — recursing into one would re-compact
        # half-swapped state
        out = {}
        for st in fs.listStatus(src):
            name = st.getPath().getName()
            if st.isDirectory() == dirs and name[0] not in "._":
                out[name] = st
        return out

    part_dirs = sorted(
        st.getPath().toString()
        for name, st in listing(dirs=True).items()
        if "=" in name
    )
    if part_dirs:
        return sum(
            compact_parquet_dir(spark, d, target_file_bytes, sort_cols)
            for d in part_dirs
        )
    sizes = [
        st.getLen()
        for name, st in listing(dirs=False).items()
        if name.endswith(".parquet")
    ]
    if not sizes:
        return 0
    n_out = max(1, math.ceil(sum(sizes) / target_file_bytes))
    df = spark.read.parquet(src.toString())
    if sort_cols:
        df = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.repartition(n_out)
    # dot-prefixed siblings: Spark's file listing AND partition
    # discovery skip paths starting with '.' or '_', so residue from a
    # crash mid-swap can never be read as data or parsed as a phantom
    # hive partition (for a leaf like 'p=0', a visible sibling
    # 'p=0.precompact-x' would register as partition value
    # '0.precompact-x' and silently duplicate the leaf's rows). The
    # run id makes the backup name unique: a stale backup from a
    # crashed run can never collide with (and so never block) a later
    # compaction.
    run_id = uuid.uuid4().hex[:8]
    tmp = Path(src.getParent(), f".{src.getName()}.compact-{run_id}")
    backup = Path(src.getParent(), f".{src.getName()}.precompact-{run_id}")
    try:
        df.write.mode("overwrite").parquet(tmp.toString())
        _rename(fs, src, backup)
        try:
            _rename(fs, tmp, src)
        except BaseException:
            _rename(fs, backup, src)  # restore the original table
            raise
    except BaseException:
        fs.delete(tmp, True)  # False when the rewrite never created it
        raise
    if not fs.delete(backup, True):
        # data already swapped in and the leftover is invisible to
        # Spark (dot prefix) — but leaking disk silently is how stores
        # fill up, so surface it
        raise RuntimeError(
            f"compaction swapped in successfully but could not remove "
            f"the backup {backup.toString()}; remove it manually"
        )
    return sum(name.endswith(".parquet") for name in listing(dirs=False))


def _rename(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports most failures by returning
    false, not by throwing; turn that into an error."""
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src.toString()} to {dst.toString()}")
