"""SparkSession factory tuned for the CDC/ingest engine.

Local-mode testing uses ``local[N]``; on a real cluster the same confs
apply (AQE, Arrow, shuffle sizing). The reference has no session concept —
it is a single Go process; Spark's session + shuffle replace its
channel-based dataflow (see SURVEY.md §3.1).
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

_log = logging.getLogger("gear5_spark.session")


def host_cpus() -> int:
    """CPUs this process may run on (cgroup/affinity-aware where the OS
    exposes it)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def host_mem_total_mb(meminfo: str = "/proc/meminfo") -> int | None:
    """The host's MemTotal in MB, or None where it cannot be read."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except (OSError, ValueError, IndexError):
        return None
    return None


def default_driver_mem(mem_total_mb: int | None) -> str:
    """Half the host's memory for the local-mode JVM (driver and
    executors share it); the other half stays for the Python workers and
    the OS. 4g when the host size is unknown; never below 1g."""
    if mem_total_mb is None:
        return "4g"
    return f"{max(1024, mem_total_mb // 2)}m"


def get_spark(
    app_name: str = "gear5-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with CDC-engine defaults.

    Defaults chosen for scale:
    - AQE on: runtime coalescing + skew-join splitting for the MERGE join.
    - Arrow on: every pandas UDF crosses the JVM/Python boundary in
      columnar batches (the reference moves rows one Go map at a time;
      we never move rows one Python object at a time).
    - shuffle partitions: 2 x the local CPUs; on a 1000-executor
      cluster this is overridden (AQE coalesces anyway). The width also
      sizes the merge-on-read applier's placement (at most this many
      delta files per micro-batch), so it follows the host rather than
      a fixed count.
    - ``local[<host CPUs>]`` with half the host's MemTotal as heap, unless
      the ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_MASTER`` /
      ``SPARK_GRAFT_DRIVER_MEM`` / ``SPARK_GRAFT_SHUFFLE`` deployment
      overrides are set.
    - join planning stays at Spark's defaults: the co-partitioned MERGE
      (lake/merge.py) needs no override, because both sides arrive
      placed by ``repartitionById`` on the slot the join leads with.

    When this call launches the driver JVM, it starts from the install's
    class-data archive (see :func:`plan_cold_start`): the first launch
    dumps it on exit, later ones map it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus())
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE") or 2 * int(cpus)
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd level 1 for data-file writes: A/B at 4M-winner batches
        # (8 cores) — level 1 writes faster
        # (2.56 s vs 3.05 s) AND reads back faster (0.71 s vs 0.80 s)
        # than the parquet-mr default level 3 for +23% file size
        # (388 vs 315 MB); snappy/lz4 write no faster and read slower
        # at 2-3x the bytes. Transparent to every reader.
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
        # shuffle/broadcast/spill codec: the replay's heavy phases are
        # bandwidth-bound, and zstd moves 2.3x fewer shuffle bytes than
        # lz4 on the JSON-payload dedup shuffle for LESS total CPU
        # (1813 -> 797 MB and 114 -> 94 CPU-sec at 4M events/8 cores,
        # scripts/diag_codec.py) — fewer bytes through the memory
        # hierarchy beats the compressor cost on every level measured
        .config("spark.io.compression.codec", "zstd")
        # INT64-micros timestamps (not legacy INT96): footer min/max
        # statistics exist, enabling manifest-stats file skipping
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_mem(host_mem_total_mb()),
        )
        # the applier's per-batch winner cache is read twice and dropped:
        # compressing it costs more CPU than it saves. Session-wide, so
        # it is set here once — a per-batch toggle races when two streams
        # share a session
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    cold = plan_cold_start(extra_conf or {})
    spark = builder.getOrCreate() if cold is None else _launch(builder, cold)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def require_utc(spark: SparkSession, what: str) -> None:
    """Refuse a session whose ``spark.sql.session.timeZone`` is not UTC
    (or an alias of it): ``what`` depends on it. :func:`get_spark` pins
    UTC; externally built sessions are checked here."""
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        raise ValueError(
            f"{what} requires spark.sql.session.timeZone=UTC (got {tz!r}) "
            "— see gear5_spark.session.get_spark"
        )


# ------------------------------------------------------------- cold start
# When get_spark launches the driver JVM itself, the JVM maps an AppCDS
# archive of the classes a previous start of this install loaded: the
# first start dumps it (-XX:ArchiveClassesAtExit), every later start maps
# it (-XX:SharedArchiveFile). On a 4-vCPU host this cut the perfbench
# tail session start from 5.7 s to 3.1 s and its JIT-cold warm-up from
# 12.9 s to 8.8 s (medians of 10 runs).
#
# HotSpot ignores an archive dumped for another classpath or with a
# garbage header, but a TRUNCATED archive is a fatal error at start. So
# only a dump whose JVM exited 0 is promoted, its size is recorded in a
# sidecar, and every start checks that size before mapping.

_KEY_LEN = 16
_KEY_FILE = re.compile(rf"^([0-9a-f]{{{_KEY_LEN}}})\.")
_KEEP_KEYS = 2
# a dump writes 140-180 MB on the JVM's way out (~10 s on the host above)
_DUMP_EXIT_TIMEOUT_S = 120
# the launcher splits java options on whitespace and quotes, and
# SharedArchiveFile splits on the path separator
_UNSAFE_PATH = re.compile(r"[\s'\"\\:]")
# each of these puts a directory or jar of the caller's on the driver
# classpath: the archive would depend on it, so the start is left alone
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def _cache_dir() -> str | None:
    """Where class-data archives live: ``$XDG_CACHE_HOME/gear5_spark/cds``,
    else ``~/.cache/gear5_spark/cds``. None when it cannot be written."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    path = os.path.join(base, "gear5_spark", "cds")
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None
    return path if os.access(path, os.W_OK | os.X_OK) else None


def _java_home() -> str | None:
    """The JDK spark-class launches: ``$JAVA_HOME``, else the one behind
    ``java`` on the PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _hotspot_release(java_home: str) -> bytes | None:
    """The JDK's ``release`` file when it is a HotSpot JDK that can dump a
    dynamic archive (13+, with a default CDS archive), else None."""
    if not os.path.isfile(os.path.join(java_home, "lib", "server", "classes.jsa")):
        return None
    try:
        with open(os.path.join(java_home, "release"), "rb") as fh:
            release = fh.read()
    except OSError:
        return None
    m = re.search(rb'^JAVA_VERSION="(\d+)', release, re.M)
    return release if m and int(m.group(1)) >= 13 else None


def _archive_key(
    java_home: str, release: bytes, spark_home: str, conf_dir: str
) -> str:
    """Names the archive of one install: the JDK, the driver classpath
    (the conf dir and each jar's name, size and mtime) and pyspark."""
    import pyspark

    h = hashlib.sha256()
    for part in (java_home, release, conf_dir, pyspark.__version__):
        h.update(part if isinstance(part, bytes) else part.encode())
        h.update(b"\0")
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:_KEY_LEN]


def _launch_conf_dir(conf_dir: str, cache: str) -> str | None:
    """The conf dir the driver launches with: ``conf_dir`` itself when it
    is empty or absent; the engine's own empty dir when it holds only
    ``*.template`` files, which the dump refuses (a non-empty directory on
    the classpath); None when it holds anything else — the caller's conf
    is left as it is and the start runs without an archive."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return conf_dir
    except OSError:
        return None
    if not names:
        return conf_dir
    if not all(n.endswith(".template") for n in names):
        return None
    empty = os.path.join(cache, "empty-conf")
    os.makedirs(empty, exist_ok=True)
    return None if os.listdir(empty) else empty


def _remove(*paths: str) -> None:
    for p in paths:
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)


def _file_size(path: str) -> int | None:
    try:
        return os.path.getsize(path)
    except OSError:
        return None


def _recorded_size(sidecar: str) -> int | None:
    try:
        with open(sidecar) as fh:
            return int(fh.read())
    except (OSError, ValueError):
        return None


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.{os.getpid()}.part"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _take_lock(path: str) -> bool:
    """One dumping process per key: an O_EXCL lock file holding the pid,
    taken over once that pid is dead."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(path) as fh:
                    pid = int(fh.read())
            except FileNotFoundError:
                continue
            except (OSError, ValueError):
                pid = None
            if pid is not None and _pid_alive(pid):
                return False
            _remove(path)
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _prune(cache: str, key: str) -> None:
    """Keep this key's files and the newest other key's; delete the rest."""
    by_key: dict[str, list[str]] = {}
    for name in os.listdir(cache):
        m = _KEY_FILE.match(name)
        if m and m.group(1) != key:
            by_key.setdefault(m.group(1), []).append(os.path.join(cache, name))

    def newest(k: str) -> float:
        return max(
            (os.path.getmtime(p) for p in by_key[k] if os.path.exists(p)), default=0.0
        )

    for k in sorted(by_key, key=newest, reverse=True)[_KEEP_KEYS - 1:]:
        _remove(*by_key[k])


@dataclass
class ColdStart:
    """How one launch of the driver JVM uses the archive of key ``base``
    (``<cache>/<key>``): map ``<base>.jsa``, or dump to ``dump_tmp``."""

    java_opts: str
    conf_dir: str
    base: str
    dump_tmp: str | None = None

    @property
    def archive(self) -> str:
        return self.base + ".jsa"

    def watch(self, gateway) -> None:
        """After the launch: a dumping start promotes its archive when the
        process exits (the gateway's JVM writes it on its way out)."""
        if self.dump_tmp is None:
            return
        proc = getattr(gateway, "proc", None)
        if proc is None:
            self._release()
        else:
            atexit.register(finish_dump, proc, self, os.getpid())

    def settle(self, exit_code: int | None) -> None:
        """Promote the dump iff its JVM exited 0 and wrote an archive.
        The sidecar is written first, so a start that sees the archive
        always sees its size; any other outcome drops the tmp file and
        records the key as failed, so later starts skip the dump."""
        size = _file_size(self.dump_tmp)
        try:
            if exit_code == 0 and size:
                _write_atomic(self.base + ".size", str(size))
                os.replace(self.dump_tmp, self.archive)
                _prune(os.path.dirname(self.base), os.path.basename(self.base))
            else:
                _write_atomic(self.base + ".failed", f"exit code {exit_code}\n")
        finally:
            self._release()

    def discard(self) -> None:
        """The JVM died before its gateway came up: a dump is recorded as
        failed, a mapped archive is deleted."""
        if self.dump_tmp is not None:
            self.settle(None)
        else:
            _remove(self.archive, self.base + ".size")

    def _release(self) -> None:
        _remove(self.dump_tmp, self.base + ".lock")


def archive_site() -> tuple[str, str] | None:
    """``(<cache>/<key>, conf dir to launch with)`` for this install, or
    None when its JVM cannot use an archive: a non-HotSpot JDK, an
    unwritable cache dir, or a caller's env or conf dir that adds to the
    driver classpath."""
    env = os.environ
    if any(env.get(v) for v in _CLASSPATH_ENV):
        return None
    cache = _cache_dir()
    java_home = _java_home()
    release = _hotspot_release(java_home) if java_home else None
    if cache is None or release is None or _UNSAFE_PATH.search(cache):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    launch_conf = _launch_conf_dir(conf_dir, cache)
    if launch_conf is None or not os.path.isdir(os.path.join(spark_home, "jars")):
        return None
    key = _archive_key(java_home, release, spark_home, launch_conf)
    return os.path.join(cache, key), launch_conf


def plan_cold_start(extra_conf: dict[str, str]) -> ColdStart | None:
    """Decide how the next driver JVM launch uses the class-data archive;
    None leaves the launch exactly as it was. Nothing is planned when no
    JVM will be launched here (a gateway is up, or spark-submit started
    one: ``PYSPARK_GATEWAY_PORT``), when the caller passes its own
    ``spark.driver.defaultJavaOptions``, when the archive site is
    unusable (:func:`archive_site`), after a failed dump of this key, or
    while another process dumps it."""
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or "spark.driver.defaultJavaOptions" in extra_conf
    ):
        return None
    site = archive_site()
    if site is None:
        return None
    base, launch_conf = site
    archive = base + ".jsa"
    if os.path.exists(base + ".failed"):
        return None
    if os.path.exists(archive):
        if _recorded_size(base + ".size") == _file_size(archive):
            return ColdStart(
                f"-XX:SharedArchiveFile={archive} -Xlog:cds=off", launch_conf, base
            )
        # a truncated archive is a fatal error at JVM start
        _log.warning("deleting class-data archive %s: size does not match", archive)
        _remove(archive, base + ".size")
        return None
    if not _take_lock(base + ".lock"):
        return None
    _remove(*glob.glob(base + ".*.tmp"))  # dumps of dead processes
    tmp = f"{base}.{os.getpid()}.tmp"
    return ColdStart(
        f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=off "
        f"-Xlog:cds*=warning:file={base}.log::filecount=0",
        launch_conf,
        base,
        dump_tmp=tmp,
    )


@contextlib.contextmanager
def _conf_dir_env(conf_dir: str):
    """SPARK_CONF_DIR for the launch only (launch_gateway copies the env)."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _launch(builder, cold: ColdStart) -> SparkSession:
    builder = builder.config("spark.driver.defaultJavaOptions", cold.java_opts)
    failure = None
    try:
        with _conf_dir_env(cold.conf_dir):
            return builder.getOrCreate()
    except PySparkRuntimeError as e:
        if SparkContext._gateway is not None:
            raise
        failure = e
    finally:
        if failure is None:
            cold.watch(SparkContext._gateway)
    # the JVM died before its gateway came up: HotSpot aborts on an
    # archive it cannot map, so drop it and start without one
    _log.warning(
        "driver JVM failed to start with %s (%s); retrying without",
        cold.java_opts, failure,
    )
    cold.discard()
    return builder.config("spark.driver.defaultJavaOptions", "").getOrCreate()


def finish_dump(proc, cold: ColdStart, owner_pid: int) -> None:
    """Exit hook of a dumping start. It holds the gateway's ``Popen``
    itself: a caller may have shut the JVM down and cleared
    ``SparkContext._gateway`` already. A JVM still running is asked to
    exit (the gateway exits on stdin EOF) and given time to write; the
    process waits for it."""
    if os.getpid() != owner_pid:  # a forked child inherited the hook
        return
    if proc.poll() is None:
        sc = SparkContext._active_spark_context
        if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:
            # stop the context first: its accumulator server would
            # otherwise print an EOFError when the JVM goes away
            with contextlib.suppress(Exception):
                sc.stop()
        if proc.stdin:
            with contextlib.suppress(OSError):
                proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    cold.settle(proc.returncode)
