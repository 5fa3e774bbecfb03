"""get_spark's defaults come from the host it runs on; the SPARK_GRAFT_*
env vars stay deployment overrides; the driver JVM starts from a verified
class-data archive. No JVM is started except by the subprocess test at
the end: SparkSession is replaced by a recorder of the settings get_spark
passes it, over a stand-in JDK and Spark install."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark import SparkContext

import gear5_spark.session as session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DJO = "spark.driver.defaultJavaOptions"

_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SHUFFLE",
)


class _Recorder:
    def __init__(self):
        self.conf: dict[str, str] = {}
        self.launch_conf_dir: str | None = None

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.launch_conf_dir = os.environ.get("SPARK_CONF_DIR")

        class _Ctx:
            def setLogLevel(self, _level):
                pass

        class _Spark:
            sparkContext = _Ctx()

        return _Spark()


@pytest.fixture
def recorder(monkeypatch, tmp_path):
    r = _Recorder()

    class _Session:
        builder = r

    monkeypatch.setattr(session, "SparkSession", _Session)
    for k in _ENV:
        monkeypatch.delenv(k, raising=False)
    # no JVM of this process counts: get_spark would launch one here
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
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
    # join co-partitioning stays at Spark's default: the placement
    # (repartitionById) needs no session-wide override
    assert "spark.sql.requireAllClusterKeysForCoPartition" not in recorder.conf


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


# ---------------------------------------------------------- class-data archive


@pytest.fixture
def install(recorder, monkeypatch, tmp_path):
    """A stand-in HotSpot JDK and Spark install, and an empty cache."""
    jdk = tmp_path / "jdk"
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "lib" / "server" / "classes.jsa").write_bytes(b"")
    (jdk / "release").write_text('JAVA_VERSION="17.0.9"\n')
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(home))
    for k in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV):
        monkeypatch.delenv(k, raising=False)
    return home


def _base() -> str:
    return session.archive_site()[0]


def _write_archive(base: str, size: int, recorded: int) -> None:
    with open(base + ".jsa", "wb") as fh:
        fh.write(b"\0" * size)
    with open(base + ".size", "w") as fh:
        fh.write(str(recorded))


def test_archive_with_matching_sidecar_is_mapped(recorder, install):
    base = _base()
    _write_archive(base, 64, 64)
    session.get_spark()
    assert recorder.conf[DJO] == f"-XX:SharedArchiveFile={base}.jsa -Xlog:cds=off"
    assert recorder.launch_conf_dir == str(install / "conf")


def test_missing_archive_dumps_to_a_pid_unique_tmp(recorder, install):
    base = _base()
    session.get_spark()
    opts = recorder.conf[DJO].split()
    assert opts[0] == f"-XX:ArchiveClassesAtExit={base}.{os.getpid()}.tmp"
    assert "-Xlog:cds=off" in opts
    assert opts[2].startswith("-Xlog:cds*=warning:file=" + base)
    # no gateway process came up here, so the lock is already given back
    assert not os.path.exists(base + ".lock")


def test_size_mismatch_deletes_the_archive(recorder, install):
    base = _base()
    _write_archive(base, 50, 64)
    session.get_spark()
    assert DJO not in recorder.conf
    assert not os.path.exists(base + ".jsa")
    assert not os.path.exists(base + ".size")


@pytest.mark.parametrize("caller_conf_dir", [None, "own"])
def test_template_only_conf_dir_is_swapped_for_the_launch(
    recorder, install, monkeypatch, tmp_path, caller_conf_dir
):
    conf = install / "conf"
    if caller_conf_dir:
        conf = tmp_path / caller_conf_dir
        conf.mkdir()
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    (conf / "log4j2.properties.template").write_text("# template\n")
    session.get_spark()
    cache = os.path.join(os.environ["XDG_CACHE_HOME"], "gear5_spark", "cds")
    empty = os.path.join(cache, "empty-conf")
    assert recorder.launch_conf_dir == empty
    assert os.listdir(empty) == []
    assert DJO in recorder.conf
    # restored once the JVM is up
    assert os.environ.get("SPARK_CONF_DIR") == (str(conf) if caller_conf_dir else None)


def test_real_conf_file_leaves_options_and_env_alone(recorder, install, monkeypatch):
    (install / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    (install / "conf" / "spark-env.sh.template").write_text("# template\n")
    session.get_spark()
    assert DJO not in recorder.conf
    assert recorder.launch_conf_dir is None
    assert "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize(
    "var", [*session._CLASSPATH_ENV, "PYSPARK_GATEWAY_PORT"]
)
def test_classpath_env_or_running_gateway_means_no_archive(
    recorder, install, monkeypatch, var
):
    base = _base()
    _write_archive(base, 64, 64)
    monkeypatch.setenv(var, "/somewhere")
    session.get_spark()
    assert DJO not in recorder.conf
    assert recorder.launch_conf_dir is None


def test_gateway_up_means_no_archive(recorder, install, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    session.get_spark()
    assert DJO not in recorder.conf


def test_non_hotspot_jdk_means_no_archive(recorder, install):
    os.remove(os.path.join(os.environ["JAVA_HOME"], "lib", "server", "classes.jsa"))
    session.get_spark()
    assert DJO not in recorder.conf


def test_callers_default_java_options_win(recorder, install):
    base = _base()
    _write_archive(base, 64, 64)
    session.get_spark(extra_conf={DJO: "-Dmine=1"})
    assert recorder.conf[DJO] == "-Dmine=1"
    assert recorder.launch_conf_dir is None


def test_held_lock_means_no_dump(recorder, install):
    base = _base()
    with open(base + ".lock", "w") as fh:
        fh.write(str(os.getpid()))
    session.get_spark()
    assert DJO not in recorder.conf
    assert os.path.exists(base + ".lock")


def test_lock_of_a_dead_process_is_taken_over(recorder, install):
    base = _base()
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(base + ".lock", "w") as fh:
        fh.write(str(dead.pid))
    with open(f"{base}.{dead.pid}.tmp", "w") as fh:
        fh.write("half a dump")
    session.get_spark()
    assert recorder.conf[DJO].startswith("-XX:ArchiveClassesAtExit=")
    assert not os.path.exists(f"{base}.{dead.pid}.tmp")


class _Proc:
    """A gateway Popen whose JVM already exited."""

    stdin = None

    def __init__(self, returncode):
        self.returncode = returncode

    def poll(self):
        return self.returncode


def _dumping_start() -> session.ColdStart:
    cold = session.plan_cold_start({})
    assert cold.dump_tmp is not None
    with open(cold.dump_tmp, "wb") as fh:
        fh.write(b"\1" * 100)
    return cold


def test_promotion_renames_only_on_exit_code_zero(recorder, install):
    cold = _dumping_start()
    session.finish_dump(_Proc(0), cold, os.getpid())
    assert os.path.getsize(cold.archive) == 100
    with open(cold.base + ".size") as fh:
        assert fh.read() == "100"
    assert not os.path.exists(cold.dump_tmp)
    assert not os.path.exists(cold.base + ".lock")
    assert session.plan_cold_start({}).java_opts.startswith("-XX:SharedArchiveFile=")


@pytest.mark.parametrize("code", [1, -9, None])
def test_failed_dump_is_dropped_and_remembered(recorder, install, code):
    cold = _dumping_start()
    if code is None:
        cold.discard()  # the JVM died before its gateway came up
    else:
        session.finish_dump(_Proc(code), cold, os.getpid())
    assert not os.path.exists(cold.dump_tmp)
    assert not os.path.exists(cold.archive)
    assert not os.path.exists(cold.base + ".lock")
    # later starts skip the dump of this key
    assert session.plan_cold_start({}) is None


def test_hook_of_a_forked_child_does_nothing(recorder, install):
    cold = _dumping_start()
    session.finish_dump(_Proc(0), cold, os.getpid() + 1)
    assert os.path.exists(cold.dump_tmp)
    assert not os.path.exists(cold.archive)


def test_only_the_newest_two_keys_are_kept(recorder, install):
    cache = os.path.dirname(_base())
    for i, key in enumerate(["0" * 16, "1" * 16, "2" * 16]):
        for ext in (".jsa", ".size", ".log"):
            path = os.path.join(cache, key + ext)
            with open(path, "w") as fh:
                fh.write("x")
            os.utime(path, (1000 + i, 1000 + i))
    cold = _dumping_start()
    session.finish_dump(_Proc(0), cold, os.getpid())
    keys = {n.split(".")[0] for n in os.listdir(cache) if n != "empty-conf"}
    assert keys == {os.path.basename(cold.base), "2" * 16}


@pytest.mark.parametrize("recorded", ["full", "truncated"])
def test_truncated_archive_still_starts(tmp_path, recorded):
    """A truncated dynamic archive is a HotSpot fatal error at start. With
    the sidecar holding the full size, get_spark deletes it before the
    launch; when the size cannot tell (the sidecar matches), the launch
    fails and get_spark deletes it and starts without. Runs in a
    subprocess so that a crash cannot take the suite down."""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env["XDG_CACHE_HOME"] = str(tmp_path / "xdg")
    site = subprocess.run(
        [sys.executable, "-c",
         "import gear5_spark.session as s; x = s.archive_site(); "
         "print(x[0] if x else '')"],
        env=env, cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    if not site:
        pytest.skip("no HotSpot JDK with class-data sharing here")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    java = java if os.path.exists(java) else "java"
    whole = str(tmp_path / "whole.jsa")
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={whole}", "-Xlog:cds=off", "-version"],
        capture_output=True, check=True,
    )
    size = os.path.getsize(whole)
    with open(whole, "rb") as src, open(site + ".jsa", "wb") as dst:
        dst.write(src.read(size // 2))
    with open(site + ".size", "w") as fh:
        fh.write(str(size if recorded == "full" else size // 2))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from gear5_spark.session import get_spark
        spark = get_spark(master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "512m"}})
        print("ROWS", spark.range(3).count())
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 3" in out.stdout
    assert not os.path.exists(site + ".jsa")
