"""get_spark's defaults come from the host it runs on; the SPARK_GRAFT_*
env vars stay deployment overrides. No JVM is started: SparkSession is
replaced by a recorder of the settings get_spark passes it."""

from __future__ import annotations

import os

import pytest

import gear5_spark.session as session

_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SHUFFLE",
)


class _Recorder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        class _Ctx:
            def setLogLevel(self, _level):
                pass

        class _Spark:
            sparkContext = _Ctx()

        return _Spark()


@pytest.fixture
def recorder(monkeypatch):
    r = _Recorder()

    class _Session:
        builder = r

    monkeypatch.setattr(session, "SparkSession", _Session)
    for k in _ENV:
        monkeypatch.delenv(k, raising=False)
    return r


def test_meminfo_parse(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       16479452 kB\nMemFree:  1 kB\n")
    assert session.host_mem_total_mb(str(p)) == 16093
    assert session.host_mem_total_mb(str(tmp_path / "missing")) is None


def test_driver_mem_is_half_the_host():
    assert session.default_driver_mem(16093) == "8046m"
    assert session.default_driver_mem(1000) == "1024m"  # floor
    assert session.default_driver_mem(None) == "4g"


def test_get_spark_defaults_follow_the_host(recorder, monkeypatch):
    monkeypatch.setattr(session, "host_cpus", lambda: 4)
    monkeypatch.setattr(session, "host_mem_total_mb", lambda: 15_000)
    session.get_spark()
    assert recorder.conf["master"] == "local[4]"
    assert recorder.conf["spark.driver.memory"] == "7500m"
    assert recorder.conf["spark.sql.inMemoryColumnarStorage.compressed"] == "false"
    # shuffle width is 2 x the host's CPUs, not a fixed count
    assert recorder.conf["spark.sql.shuffle.partitions"] == "8"


def test_env_overrides_win(recorder, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    session.get_spark()
    assert recorder.conf["master"] == "local[2]"
    assert recorder.conf["spark.driver.memory"] == "3g"
    assert recorder.conf["spark.sql.shuffle.partitions"] == "4"


def test_shuffle_width_overrides(recorder, monkeypatch):
    monkeypatch.setattr(session, "host_cpus", lambda: 16)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "6")
    session.get_spark()
    assert recorder.conf["spark.sql.shuffle.partitions"] == "6"
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE")
    session.get_spark(shuffle_partitions=3)
    assert recorder.conf["spark.sql.shuffle.partitions"] == "3"
    session.get_spark()
    assert recorder.conf["spark.sql.shuffle.partitions"] == "32"


def test_host_cpus_matches_affinity():
    if hasattr(os, "sched_getaffinity"):
        assert session.host_cpus() == len(os.sched_getaffinity(0))
    assert session.host_cpus() >= 1
