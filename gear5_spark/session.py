"""SparkSession factory tuned for the CDC/ingest engine.

Local-mode testing uses ``local[N]``; on a real cluster the same confs
apply (AQE, Arrow, shuffle sizing). The reference has no session concept —
it is a single Go process; Spark's session + shuffle replace its
channel-based dataflow (see SURVEY.md §3.1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        # allow a join whose children are hash-partitioned on a SUBSET
        # of the join keys to run without a new exchange (rows with
        # equal join keys share the subset hash, so co-location is
        # guaranteed). The co-partitioned MERGE (lake/merge.py
        # _pslot) leads its equi-join with the placement slot
        # both sides are already partitioned on; with the default
        # (true) Spark re-shuffles both sides by the full key anyway.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
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
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
