"""End-to-end pipeline drivers: bootstrap, bulk replay, streaming tail.

Maps the reference's ``read`` lifecycle (``/root/reference/protocol/
read.go:19-167``) onto Spark:

- :func:`bootstrap_table`  — CREATE the target lake table (the Adapter
  ``Create`` the reference declares but never implements,
  ``protocol/interface.go:52``).
- :func:`snapshot_load`    — phase-0 full snapshot before CDC (S5,
  ``pkg/waljs/waljs.go:261-330``): bulk-apply a pure-insert prefix.
- :func:`replay_batch`     — bounded bulk replay of a change log in ONE
  merge: dedup collapses the entire log to the latest event per key, so
  one keyed shuffle + one bucketed write produce the final state. This is
  the throughput path for backfills.
- :func:`run_stream`       — Structured Streaming tail with
  ``foreachBatch`` apply (S4 + ST1): ``availableNow`` drains the log and
  stops (the reference's InitialWaitTime-style bounded sync, ST2);
  ``processingTime`` tails indefinitely.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from gear5_spark.lake.table import (
    CDC_DELETED_AT,
    CDC_LSN,
    CDC_UPDATED_AT,
    LakeTable,
)
from gear5_spark.pipeline.apply import KEY_COLS, TranscriptsApplier
from gear5_spark.sources.changelog import read_changelog, stream_changelog

# target schema from BASELINE.json input_hint + reference _cdc_* metadata
# columns (/root/reference/pkg/jdbc/jdbc.go:11-19)
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField(CDC_LSN, T.StringType(), True),
        T.StructField(CDC_UPDATED_AT, T.TimestampType(), True),
        T.StructField(CDC_DELETED_AT, T.TimestampType(), True),
    ]
)


def bootstrap_table(
    spark: SparkSession,
    table_dir: str,
    n_buckets: int = 16,
    if_not_exists: bool = True,
    delete_mode: str = "hard",
) -> LakeTable:
    """CREATE the transcripts lake table, bucketed by the full key.
    ``delete_mode`` is a TABLE property (it changes what a MoR read
    means, so it must be fixed at create time, not per reader)."""
    return LakeTable.create(
        spark,
        table_dir,
        schema=TRANSCRIPTS_SCHEMA,
        key_columns=KEY_COLS,
        bucket_columns=KEY_COLS,
        n_buckets=n_buckets,
        if_not_exists=if_not_exists,
        extra_properties={"delete_mode": delete_mode},
    )


def snapshot_load(
    spark: SparkSession,
    snapshot_df,
    table: LakeTable,
    lsn: int = 0,
) -> LakeTable:
    """Phase-0 initial snapshot before CDC (S5, pkg/waljs/waljs.go:261-330):
    bulk-load a consistent snapshot of the source table, stamping every row
    as an insert at the snapshot LSN. The CDC stream then starts from
    offset 0; replayed events at lsn >= snapshot lsn win via the merge
    order-guard, so snapshot->stream handoff needs no coordination."""
    from pyspark.sql import functions as F

    stamped = (
        snapshot_df.withColumn(CDC_LSN, F.lit(str(lsn)))
        .withColumn(
            CDC_UPDATED_AT,
            F.col("ts") if "ts" in snapshot_df.columns
            else F.lit(None).cast("timestamp"),
        )
        .withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
    )
    table.overwrite(stamped)
    return table


def make_applier(
    table: LakeTable,
    checkpoint_dir: str,
    app_id: str = "transcripts-cdc",
    **kwargs,
) -> TranscriptsApplier:
    os.makedirs(checkpoint_dir, exist_ok=True)
    return TranscriptsApplier(
        table=table,
        app_id=app_id,
        registry_path=os.path.join(checkpoint_dir, "payload_schema.json"),
        **kwargs,
    )


def replay_batch(
    spark: SparkSession,
    changelog_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    app_id: str = "transcripts-bulk",
    min_lsn: int | None = None,
    max_lsn: int | None = None,
    salt_buckets: int = 1,
    order_guard: bool | None = None,
    delete_mode: str = "hard",
    sink_mode: str = "cow",
    compact_every: int = 8,
    quarantine_dir: str | None = None,
    exclude_columns: list[str] | None = None,
    rollup=None,
    partition_lineage: bool = True,
    auto_widen: bool | str = True,
) -> LakeTable:
    """Bulk replay: whole (or cursor-bounded) change log in one merge.

    ``order_guard`` defaults OFF for an unbounded replay — its batch
    provably contains the globally-latest event per key, so the cheaper
    anti-join plan is safe. An ``max_lsn``-BOUNDED replay loses that
    proof: phases can be re-run out of order (phase-1 rerun after
    phase-2 committed), and the unguarded plan would let the stale
    prefix win silently — so bounded replays default the guard ON.
    Pass ``order_guard`` explicitly to override either way. Caveat: the
    guard compares against EXISTING target rows, so it cannot refuse to
    resurrect a key a later phase hard-deleted (nothing remains to
    compare against) — phased replays that may be re-run out of order
    should use ``delete_mode="soft"`` (tombstones carry the ordering).
    """
    if order_guard is None:
        order_guard = max_lsn is not None
    applier = make_applier(
        table,
        checkpoint_dir,
        app_id=app_id,
        salt_buckets=salt_buckets,
        order_guard=order_guard,
        delete_mode=delete_mode,
        sink_mode=sink_mode,
        compact_every=compact_every,
        quarantine_dir=quarantine_dir,
        exclude_columns=exclude_columns or [],
        rollup=rollup,
        partition_lineage=partition_lineage,
        auto_widen=auto_widen,
    )
    changes = read_changelog(spark, changelog_dir, min_lsn=min_lsn, max_lsn=max_lsn)
    last = table.last_committed_batch(app_id)
    next_batch = (last if last is not None else -1) + 1
    applier(changes, next_batch)
    return table


def run_stream(
    spark: SparkSession,
    changelog_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    app_id: str = "transcripts-cdc",
    max_files_per_trigger: int | None = 4,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    applier: TranscriptsApplier | None = None,
    timeout_sec: float | None = None,
    sink_mode: str = "mor",
):
    """Streaming CDC tail -> foreachBatch apply. Returns the query (stopped
    already if ``available_now`` drained and terminated).

    The default sink for STREAMING is merge-on-read (``sink_mode="mor"``):
    each micro-batch appends delta files and compaction folds them into
    the base every ``compact_every`` batches — per-batch copy-on-write
    rewrites amplify every touched bucket's full content per trigger,
    which measured ~4x slower on a steady tail (BENCH r3:
    stream_mor 15.7 s vs stream_cow 60.8 s at 4M events) and at scale
    turns a trickle of updates into a firehose of rewrites. CoW remains
    the BULK/bootstrap mode (``replay_batch``): one big batch, one
    rewrite, zero read amplification afterwards. Pass a custom
    ``applier`` (or ``sink_mode="cow"``) to override."""
    applier = applier or make_applier(
        table, checkpoint_dir, app_id=app_id, sink_mode=sink_mode
    )
    stream = stream_changelog(
        spark, changelog_dir, max_files_per_trigger=max_files_per_trigger
    )
    writer = (
        stream.writeStream.foreachBatch(applier)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "spark"))
        .queryName(app_id)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    query = writer.start()
    if available_now:
        if timeout_sec is None:
            # no-arg awaitTermination blocks until the drain completes and
            # returns None — that is success, not a timeout
            query.awaitTermination()
            drained = True
        else:
            drained = query.awaitTermination(timeout_sec)
        if not drained:
            # timeout hit with the drain still running: returning the
            # live query would let callers read a half-applied table
            # (and a process exit would kill the in-flight batch
            # non-gracefully). Stop and fail loudly instead.
            query.stop()
            query.awaitTermination(30)
            raise TimeoutError(
                f"availableNow drain exceeded {timeout_sec}s; stopped "
                "after the in-flight micro-batch (state is consistent — "
                "rerun to continue from the checkpoint)"
            )
    return query


def run_stream_until_idle(
    spark: SparkSession,
    changelog_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    idle_timeout_sec: float = 10.0,
    poll_sec: float = 0.5,
    max_wall_sec: float = 3600.0,
    **kwargs,
):
    """Tail the feed with a processing-time trigger and stop once no new
    data arrives for ``idle_timeout_sec`` — the reference's
    ``InitialWaitTime`` bounded-sync semantics (SURVEY.md ST2,
    drivers/postgres/internal/config.go:75-89, pkg/waljs/waljs.go:133-146)
    expressed with query-progress polling instead of socket deadlines."""
    import time as _time

    query = run_stream(
        spark,
        changelog_dir,
        table,
        checkpoint_dir,
        available_now=False,
        processing_time=kwargs.pop("processing_time", "1 seconds"),
        **kwargs,
    )
    deadline = _time.monotonic() + max_wall_sec
    last_data = _time.monotonic()
    seen_batches = set()
    try:
        while _time.monotonic() < deadline:
            if not query.isActive:
                break
            progress = query.lastProgress
            if progress:
                bid = progress.get("batchId")
                rows = progress.get("numInputRows", 0)
                if bid not in seen_batches and rows > 0:
                    seen_batches.add(bid)
                    last_data = _time.monotonic()
            # a backlogged/long micro-batch must not count as idle: while
            # the source still has unprocessed data the clock holds
            if (query.status or {}).get("isDataAvailable"):
                last_data = _time.monotonic()
            if _time.monotonic() - last_data > idle_timeout_sec:
                break
            _time.sleep(poll_sec)
    finally:
        if query.isActive:
            query.stop()
        query.awaitTermination(30)
    return query
