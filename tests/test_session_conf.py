"""Session conf derivation: the parallel file-listing job follows the
shuffle-partition count (about one task per core, not one per path), and
only a ``local[...]`` JVM this call launches gets the local FileSystem jar."""

from __future__ import annotations

import pytest
from pyspark.context import SparkContext

from eventbridge_etl_spark import session

LISTING = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


class _Builder:
    """Stands in for ``SparkSession.builder``: records the conf it is given."""

    def __init__(self) -> None:
        self.conf: dict[str, str] = {}

    def appName(self, name):  # noqa: N802 — mirrors the pyspark builder
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):  # noqa: N802
        return self.conf


def _conf(monkeypatch, master="local[2]", **kwargs) -> dict[str, str]:
    """The conf ``get_spark`` hands the session builder."""

    class _Session:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    return session.get_spark(master=master, **kwargs)


def test_listing_parallelism_follows_shuffle_partitions(monkeypatch):
    conf = _conf(monkeypatch, shuffle_partitions=6)
    assert conf["spark.sql.shuffle.partitions"] == "6"
    assert conf[LISTING] == "6"


def test_listing_parallelism_defaults_to_graft_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _conf(monkeypatch)[LISTING] == "3"


def test_extra_conf_overrides_listing_parallelism(monkeypatch):
    conf = _conf(monkeypatch, shuffle_partitions=6, extra_conf={LISTING: "2"})
    assert conf[LISTING] == "2"


def test_live_session_carries_listing_parallelism(spark):
    assert spark.conf.get(LISTING) == spark.conf.get("spark.sql.shuffle.partitions")


CP = "spark.driver.extraClassPath"
FS_IMPL = "spark.hadoop.fs.file.impl"


@pytest.fixture()
def fresh_jvm(monkeypatch):
    """``get_spark`` as if it were about to launch this process's first JVM."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_configured_master", lambda: False)


def test_local_jvm_gets_the_local_fs_jar(monkeypatch, fresh_jvm):
    conf = _conf(monkeypatch)
    assert conf[CP] == session.LOCAL_FS_JAR
    for key, value in session.LOCAL_FS_CONF.items():
        assert conf[key] == value


def test_local_fs_jar_is_prepended_to_a_user_classpath(monkeypatch, fresh_jvm):
    conf = _conf(monkeypatch, extra_conf={CP: "/opt/a.jar:/opt/b.jar"})
    assert conf[CP] == f"{session.LOCAL_FS_JAR}:/opt/a.jar:/opt/b.jar"


def test_extra_conf_overrides_the_local_fs_classes(monkeypatch, fresh_jvm):
    stock = "org.apache.hadoop.fs.LocalFileSystem"
    assert _conf(monkeypatch, extra_conf={FS_IMPL: stock})[FS_IMPL] == stock


def test_no_local_fs_for_a_configured_master(monkeypatch, fresh_jvm):
    monkeypatch.setattr(session, "_configured_master", lambda: True)
    conf = _conf(monkeypatch, extra_conf={CP: "/opt/a.jar"})
    assert conf[CP] == "/opt/a.jar"
    assert not set(session.LOCAL_FS_CONF) & set(conf)


def test_no_local_fs_with_a_live_gateway(monkeypatch, fresh_jvm):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    conf = _conf(monkeypatch)
    assert CP not in conf and not set(session.LOCAL_FS_CONF) & set(conf)


def test_no_local_fs_for_a_cluster_master(monkeypatch, fresh_jvm):
    conf = _conf(monkeypatch, master="spark://host:7077")
    assert CP not in conf and not set(session.LOCAL_FS_CONF) & set(conf)


def test_live_session_carries_the_local_fs_jar(spark):
    assert spark.conf.get(CP).split(":")[0] == session.LOCAL_FS_JAR
    assert spark.conf.get(FS_IMPL) == session.LOCAL_FS_CONF[FS_IMPL]
