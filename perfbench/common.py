"""Pinned run environment, fixture cache and measurement helpers.

Everything a run writes lives under ``<checkout>/.bench_work``: change-log
fixtures (cached by seed and shape), the lake tables, Spark's shuffle and
spill directories and every temp file. The session is pinned to the
host's core count with an explicit heap and shuffle width, so the engine
never falls back to its ``local[32]`` / 48 GB defaults.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_work")
FIXTURES = os.path.join(WORK, "fixtures")
FIXTURE_CACHE_ENTRIES = 12

CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 2 * CPUS
N_BUCKETS = 32

# Pinned session and pipeline settings, printed on every run.
SETTINGS = {
    "cores": CPUS,
    "master": f"local[{CPUS}]",
    "driver_mem": DRIVER_MEM,
    "shuffle_partitions": SHUFFLE_PARTITIONS,
    "storage": "local disk under <checkout>/.bench_work (tables, fixtures, "
    "shuffle, spill, temp)",
    "n_buckets": N_BUCKETS,
    "tail_trigger": "processingTime 0 seconds",
}


def pin_environment(run_dir: str) -> None:
    """Point Spark's local dirs and every temp dir into ``run_dir`` and pin
    the engine's session knobs. Must run before pyspark starts a JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_SHUFFLE": str(SHUFFLE_PARTITIONS),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp


def start_session(trace: bool):
    """Start the pinned SparkSession, which launches the driver JVM."""
    from gear5_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def shutdown_jvm() -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=20)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    return proc.pid if proc else None


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the third (state) on."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def cpu_seconds() -> float:
    """User + system CPU time of this process, the driver JVM and its
    descendants (PySpark workers), live or reaped. Time the
    hypervisor steals from the vCPUs is not in it, so on a shared host it
    tracks the work done where wall time tracks the neighbours' load."""
    tick = os.sysconf("SC_CLK_TCK")
    fields = _stat_fields("self")
    total = int(fields[11]) + int(fields[12])
    jvm = jvm_pid()
    if jvm is None:
        return total / tick
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _stat_fields(d)) is not None:
            stats[int(d)] = f
            children.setdefault(int(f[1]), []).append(int(d))
    todo = [jvm]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += sum(int(x) for x in stats[pid][11:15])
        todo.extend(children.get(pid, []))
    return total / tick


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus the driver JVM, in MiB."""
    kb = _hwm_kb("self")
    pid = jvm_pid()
    if pid:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def changelog(seed: int, events: int, chunk_rows: int, convs: int) -> tuple[str, dict, float]:
    """Seeded change log from ``gen_fixtures.generate_changelog``, cached
    under ``.bench_work/fixtures`` by (seed, events, chunk_rows, convs).
    Returns (dir, manifest, generation seconds — 0.0 on a cache hit)."""
    from gen_fixtures import generate_changelog

    key = f"s{seed}-e{events}-r{chunk_rows}-c{convs}"
    out = os.path.join(FIXTURES, key)
    manifest_path = os.path.join(out, "_manifest.json")
    if os.path.exists(manifest_path):
        os.utime(out)
        with open(manifest_path) as fh:
            return out, json.load(fh), 0.0
    os.makedirs(FIXTURES, exist_ok=True)
    t0 = time.perf_counter()
    tmp = out + f".tmp{os.getpid()}"
    manifest = generate_changelog(
        tmp, n_events=events, n_convs=convs, chunk_rows=chunk_rows,
        seed=seed, overwrite=True,
    )
    os.replace(tmp, out)
    gen_s = time.perf_counter() - t0
    entries = sorted(
        (os.path.join(FIXTURES, d) for d in os.listdir(FIXTURES)),
        key=os.path.getmtime,
    )
    for old in entries[:-FIXTURE_CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    return out, manifest, gen_s


def chunk_files(log_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(log_dir) if f.startswith("chunk-"))


def quantile(values: list[float], q: float) -> float:
    """Linearly interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Outcome:
    """What one workload run produced: the bounded end-to-end values, the
    wall-clock throughput and freshness, detail figures for the
    human-readable report, and operation accounting."""

    metrics: dict[str, float] = field(default_factory=dict)
    wall: dict[str, float] = field(default_factory=dict)
    detail: dict[str, object] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a wrong result is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok
