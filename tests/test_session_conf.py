"""Session conf derivation: the parallel file-listing job follows the
shuffle-partition count (about one task per core, not one per path)."""

from __future__ import annotations

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


def _conf(monkeypatch, **kwargs) -> dict[str, str]:
    """The conf ``get_spark`` hands the session builder."""

    class _Session:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    return session.get_spark(master="local[2]", **kwargs)


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
