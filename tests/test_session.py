"""Session-construction guards: the GCLocker diagnostic flag is
JDK-17-era (the GCLocker itself is removed by JDK 22's region
pinning) — an unrecognized -XX option aborts JVM startup, so the
default driver/executor opts must gate it on the probed java major
version (ADVICE r11). The driver JVM's class-data-sharing archive is
chosen only for a launch, never fails a start, and is checked after
it."""

import contextlib
import os
import subprocess
import sys
import types
import warnings
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from solana_etl_pipeline_spark import session

_PARTITIONS = "spark.sql.shuffle.partitions"
_CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


@contextlib.contextmanager
def _session_partitions(spark, n: str):
    """Set the shared session's partition count for one test only."""
    old = spark.conf.get(_PARTITIONS)
    spark.conf.set(_PARTITIONS, n)
    try:
        yield
    finally:
        spark.conf.set(_PARTITIONS, old)


def test_gclocker_flag_present_through_jdk21(monkeypatch):
    for major in (17, 21):
        monkeypatch.setattr(session, "_java_major_version", lambda m=major: m)
        opts = session.gc_java_opts()
        assert "-XX:GCLockerRetryAllocationCount=8" in opts
        assert "-XX:+UnlockDiagnosticVMOptions" in opts
        assert "-XX:G1HeapRegionSize=32m" in opts


def test_gclocker_flag_dropped_on_jdk22_plus(monkeypatch):
    for major in (22, 25):
        monkeypatch.setattr(session, "_java_major_version", lambda m=major: m)
        opts = session.gc_java_opts()
        assert "GCLocker" not in opts
        assert "UnlockDiagnosticVMOptions" not in opts
        assert "-XX:G1HeapRegionSize=32m" in opts


def test_gclocker_flag_dropped_when_probe_fails(monkeypatch):
    monkeypatch.setattr(session, "_java_major_version", lambda: None)
    opts = session.gc_java_opts()
    # Fail closed: never emit a flag the JVM might reject.
    assert "GCLocker" not in opts
    assert "-XX:G1HeapRegionSize=32m" in opts


def test_java_probe_parses_this_boxes_jdk():
    session._java_version.cache_clear()
    major = session._java_major_version()
    assert major is not None and major >= 17


def test_session_reports_the_partition_count_it_asked_for(spark):
    # conftest builds its session with shuffle_partitions=4
    assert spark.conf.get(_PARTITIONS) == "4"
    assert _PARTITIONS not in session.RUNTIME_CONFS


def test_apply_runtime_confs_keeps_the_owners_partition_count(spark):
    with _session_partitions(spark, "7"):
        session.apply_runtime_confs(spark)
        assert spark.conf.get(_PARTITIONS) == "7"


def test_spark_entry_wrappers_size_partitions_to_default_parallelism(
    spark, sf_dir
):
    import __spark_entry__

    with _session_partitions(spark, "7"):
        __spark_entry__.queries()["events_hourly_rollup"](spark, sf_dir)
        assert spark.conf.get(_PARTITIONS) == str(
            spark.sparkContext.defaultParallelism
        )


def test_static_conf_on_live_session_warns(spark):
    partitions = int(spark.conf.get(_PARTITIONS))
    live = spark.conf.get(_CODEGEN_CACHE)
    asked = str(int(live) + 1)
    with pytest.warns(RuntimeWarning, match=_CODEGEN_CACHE):
        same = session.build_session(
            master="local[4]",
            shuffle_partitions=partitions,
            extra_confs={_CODEGEN_CACHE: asked},
        )
    assert same is spark
    assert spark.conf.get(_CODEGEN_CACHE) == live


def test_matching_static_confs_on_live_session_do_not_warn(spark):
    # the JVM options and the warehouse dir come back rewritten by
    # Spark (flags prepended, "file:" scheme added) and still match
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert warehouse.startswith("file:")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        session.build_session(
            master="local[4]",
            shuffle_partitions=int(spark.conf.get(_PARTITIONS)),
            extra_confs={
                "spark.sql.warehouse.dir": warehouse.removeprefix("file:"),
            },
        )


def test_apply_runtime_confs_warns_for_a_refused_conf():
    """A conf the session refuses warns by name; the rest still apply."""
    refused = "spark.sql.session.timeZone"

    class _Conf:
        def __init__(self):
            self.values = {}

        def set(self, key, value):
            if key == refused:
                raise RuntimeError("cannot modify")
            self.values[key] = value

    stub = types.SimpleNamespace(conf=_Conf())
    with pytest.warns(RuntimeWarning, match=refused):
        assert session.apply_runtime_confs(stub) is stub
    assert stub.conf.values == {
        k: v for k, v in session.RUNTIME_CONFS.items() if k != refused
    }


_DRIVER_OPTS = "spark.driver.extraJavaOptions"


@pytest.fixture
def no_jvm_yet(tmp_path, monkeypatch):
    """A process with no driver JVM yet, on a Spark home whose conf
    directory holds only templates, with an empty user cache."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("HOME", str(tmp_path / "user"))
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR",
                "YARN_CONF_DIR", "SPARK_DRIVER_JAVA_OPTS"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(
        session, "_java_version", lambda: 'openjdk version "17.0.20"')
    monkeypatch.setattr(session, "_archive_flags", session._archive_flags)
    return spark_home


class _Builder:
    """Stands in for ``SparkSession.builder``: records the confs and the
    ``SPARK_CONF_DIR`` that a launch would get."""

    def __init__(self):
        self.confs = {}
        self.conf_dir = None

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        self.conf_dir = os.environ.get("SPARK_CONF_DIR")
        return types.SimpleNamespace(
            conf=types.SimpleNamespace(set=lambda key, value: None))


def _launch(monkeypatch) -> _Builder:
    builder = _Builder()
    monkeypatch.setattr(SparkSession, "builder", builder)
    session.build_session()
    return builder


def test_first_launch_writes_the_archive_from_an_empty_conf_dir(
    no_jvm_yet, monkeypatch
):
    archive = session._archive_path()
    launched = _launch(monkeypatch)
    opts = launched.confs[_DRIVER_OPTS]
    assert opts.startswith(session.gc_java_opts())
    assert f"-XX:ArchiveClassesAtExit={archive} " in opts
    assert "SharedArchiveFile" not in opts
    assert "Archive" not in launched.confs["spark.executor.extraJavaOptions"]
    assert launched.conf_dir == os.path.join(
        os.path.dirname(archive), "empty-conf")
    assert os.listdir(launched.conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ
    assert archive.startswith(
        os.path.join(os.environ["HOME"], ".cache", "solana_etl_pipeline_spark"))


def test_later_launch_maps_the_archive(no_jvm_yet):
    archive = session._archive_path()
    os.makedirs(os.path.dirname(archive))
    Path(archive).write_bytes(b"archive")
    launch = session._archive_launch("")
    assert launch.flags.startswith(f"-XX:SharedArchiveFile={archive} ")
    assert "ArchiveClassesAtExit" not in launch.flags
    assert launch.check == archive


@pytest.mark.parametrize("var, name", [
    (None, "spark-defaults.conf"),
    ("HADOOP_CONF_DIR", "core-site.xml"),
])
def test_conf_dir_with_real_files_skips_the_archive(
    no_jvm_yet, monkeypatch, var, name
):
    conf_dir = no_jvm_yet / "conf"
    if var:
        conf_dir = no_jvm_yet / "hadoop-conf"
        conf_dir.mkdir()
        monkeypatch.setenv(var, str(conf_dir))
    (conf_dir / name).write_text("")
    with pytest.warns(RuntimeWarning, match=f"{name} is on its classpath"):
        launched = _launch(monkeypatch)
    assert launched.confs[_DRIVER_OPTS] == session.gc_java_opts()
    assert launched.conf_dir is None
    assert os.environ.get("SPARK_CONF_DIR") is None
    assert not os.path.exists(os.path.join(os.environ["HOME"], ".cache"))


def test_archive_flags_follow_spark_driver_java_opts(no_jvm_yet, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_JAVA_OPTS", "-Dmarker=1")
    launched = _launch(monkeypatch)
    assert launched.confs[_DRIVER_OPTS].startswith(
        "-Dmarker=1 -XX:ArchiveClassesAtExit=")


@pytest.mark.parametrize("var, value", [
    ("PYSPARK_GATEWAY_PORT", "1"),  # the JVM is already running
    ("SPARK_DRIVER_JAVA_OPTS", "-Xshare:off"),  # sharing chosen already
])
def test_launch_adds_nothing(no_jvm_yet, monkeypatch, var, value):
    monkeypatch.setenv(var, value)
    launched = _launch(monkeypatch)
    assert "Archive" not in launched.confs[_DRIVER_OPTS]
    assert launched.conf_dir is None


def test_unwritable_cache_dir_warns_and_adds_nothing(no_jvm_yet, monkeypatch):
    # a file where the cache directory should be (root may write anywhere)
    home = Path(os.environ["HOME"])
    home.mkdir()
    (home / ".cache").write_text("")
    with pytest.warns(RuntimeWarning, match="not a writable directory"):
        launched = _launch(monkeypatch)
    assert launched.confs[_DRIVER_OPTS] == session.gc_java_opts()
    assert launched.conf_dir is None


_MAPPED = """\
trying to map {archive}
Mapped static  region #0 at base 0x00007fe3ca000000 top 0x00007fe3ca455000
Mapped dynamic region #0 at base 0x00007fe3cabca000 top 0x00007fe3ce0d1000
"""
# what the JVM logs for an archive written on another classpath
_STALE = _MAPPED + """\
UseSharedSpaces: shared class paths mismatch
Unmapping region #0 at base 0x00007fe3cabca000 (ReadWrite)
Unable to use shared archive. The top archive failed to load: {archive}
"""


@pytest.mark.parametrize("log, kept", [(_MAPPED, True), (_STALE, False)])
def test_archive_check_reads_the_cds_log(no_jvm_yet, log, kept):
    archive = session._archive_path()
    os.makedirs(os.path.dirname(archive))
    Path(archive).write_bytes(b"archive")
    Path(session._cds_log(archive)).write_text(log.format(archive=archive))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session._check_archive(archive)
    assert os.path.exists(archive) is kept
    assert not os.path.exists(session._cds_log(archive))
    if kept:
        assert caught == []
    else:
        (warning,) = caught
        assert archive in str(warning.message)
        assert "shared class paths mismatch" in str(warning.message)


def test_one_java_probe_serves_gc_opts_and_the_archive(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    calls = []
    real_run = subprocess.run

    def run(cmd, **kwargs):
        calls.append(cmd)
        return real_run(cmd, **kwargs)

    monkeypatch.setattr(session.subprocess, "run", run)
    session._java_version.cache_clear()
    try:
        session.gc_java_opts()
        session._archive_launch("")
    finally:
        session._java_version.cache_clear()
    assert [cmd[-1] for cmd in calls] == ["-version"]


def test_second_build_session_on_live_context_leaves_the_launch_alone(
    spark, monkeypatch
):
    monkeypatch.setenv("SPARK_CONF_DIR", "/nonexistent/conf")
    launches = []
    real_launch = session._archive_launch

    def launch(java_opts):
        launches.append(real_launch(java_opts))
        return launches[-1]

    monkeypatch.setattr(session, "_archive_launch", launch)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert session.build_session(
            master="local[4]",
            shuffle_partitions=int(spark.conf.get(_PARTITIONS)),
        ) is spark
    assert launches == [session._Launch()]
    assert os.environ["SPARK_CONF_DIR"] == "/nonexistent/conf"


def test_rejected_archive_never_fails_a_start(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    archive = session._archive_path()
    os.makedirs(os.path.dirname(archive))
    Path(archive).write_bytes(b"not an archive" * 1000)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    env.update(SPARK_DRIVER_MEMORY="1g", HOME=str(tmp_path))
    script = (
        "from solana_etl_pipeline_spark.session import build_session\n"
        "spark = build_session(master='local[1]', shuffle_partitions=1)\n"
        "print('SUM', spark.range(5).selectExpr('sum(id)').first()[0])\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=300, cwd=Path(__file__).resolve().parent.parent,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "SUM 10" in proc.stdout
    assert "RuntimeWarning" in proc.stderr
    assert os.path.basename(archive) in proc.stderr
    assert not os.path.exists(archive)
