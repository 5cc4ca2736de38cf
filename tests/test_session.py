"""Session-construction guards: the GCLocker diagnostic flag is
JDK-17-era (the GCLocker itself is removed by JDK 22's region
pinning) — an unrecognized -XX option aborts JVM startup, so the
default driver/executor opts must gate it on the probed java major
version (ADVICE r11)."""

import contextlib
import types
import warnings

import pytest

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
    session._java_major_version.cache_clear()
    major = session._java_major_version()
    assert major is not None and major >= 17


_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def test_rocksdb_confs_emit_changelog_key_for_both_values():
    # The False case must EMIT "false", not omit the key: applying the
    # returned confs to a session where changelog checkpointing was
    # previously enabled has to actually disable it (ADVICE r14).
    on = session.rocksdb_state_store_confs(changelog_checkpointing=True)
    off = session.rocksdb_state_store_confs(changelog_checkpointing=False)
    assert on[_CHANGELOG_KEY] == "true"
    assert off[_CHANGELOG_KEY] == "false"
    for confs in (on, off):
        assert (
            confs["spark.sql.streaming.stateStore.providerClass"]
            == session.ROCKSDB_STATE_STORE_PROVIDER
        )
    # Bounded-memory knobs only appear when a cap is requested.
    assert not any("MemoryUsage" in k for k in on)
    capped = session.rocksdb_state_store_confs(max_memory_mb=256)
    assert (
        capped["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"]
        == "256"
    )


def test_rocksdb_confs_snapshot_cadence():
    confs = session.rocksdb_state_store_confs(snapshot_cadence=25)
    assert (
        confs["spark.sql.streaming.stateStore.minDeltasForSnapshot"] == "25"
    )
    # None leaves the build default untouched (key absent)
    assert not any(
        "minDeltasForSnapshot" in k
        for k in session.rocksdb_state_store_confs()
    )


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


def test_codegen_cache_env_must_be_an_integer(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CODEGEN_CACHE", "5k")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CODEGEN_CACHE"):
        session.build_session()


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
