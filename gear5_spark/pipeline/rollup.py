"""Incrementally-maintained materialized rollups (derived tables).

The reference delivers per-turn rows and stops; any aggregate view is
the consumer's problem, recomputed from scratch. This module keeps a
derived lake table — per-conversation statistics — IN SYNC with the base
transcripts table, maintained per micro-batch:

1. the batch's distinct ``conv_id`` set (already computed once by the
   applier's dedup pass) names every conversation whose aggregate may
   have changed — nothing else can change, so shuffle/aggregate work
   per batch is O(touched conversations). Scan volume depends on the
   base layout: with ``bucket_columns=["conv_id"]`` the refresh opens
   only the touched buckets (see ``_pruned_base``); under default
   full-key bucketing it is a predicate-pushdown scan whose row groups
   skip on conv_id stats — the deliberate tradeoff vs hot-key
   spreading;
2. those conversations' stats are recomputed exactly from the
   POST-merge base table (filter-pushdown scan; with ``sort_columns``
   clustering the row-group stats skip most files) — recompute-affected
   is idempotent and self-healing, where pure delta arithmetic on
   counters would drift on replays;
3. the result upserts into the rollup table through the SAME
   ``merge_into`` + txn-ledger machinery as the base table, with the
   batch id as the ordering LSN — a replayed batch is a no-op commit,
   giving the rollup the base table's exactly-once contract;
4. conversations whose every turn vanished (hard deletes) emit delete
   ops, so the rollup never carries ghost rows.

Crash between base commit and rollup commit: the restart replays the
batch; the base apply dedupes to a no-op, the rollup recompute runs
against the (already-correct) base state and converges. The rollup is
therefore eventually exactly the full recompute at every committed
batch boundary — which is what the equivalence test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import LakeTable, bucket_columns_of

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_roles", T.LongType(), True),
        T.StructField("total_chars", T.LongType(), True),
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
        T.StructField("duration_s", T.LongType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
        T.StructField("_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_cdc_deleted_at", T.TimestampType(), True),
    ]
)


def bootstrap_rollup(
    spark, table_dir: str, n_buckets: int = 16
) -> LakeTable:
    return LakeTable.create(
        spark,
        table_dir,
        schema=ROLLUP_SCHEMA,
        key_columns=["conv_id"],
        n_buckets=n_buckets,
        if_not_exists=True,
    )


class ConversationRollup:
    """Per-micro-batch maintainer: call after the base apply with the
    batch's touched conv_ids."""

    def __init__(
        self,
        base_table: LakeTable,
        rollup_table: LakeTable,
        app_id: str | None = None,
    ):
        """``app_id`` scopes the rollup's replay-dedup ledger. Leave it
        None when attaching to an applier: the applier derives
        ``<base app_id>::rollup``, so two pipelines (or bulk-vs-stream
        modes) with independent batch-id sequences never share a ledger
        and silently skip each other's refreshes."""
        self.base = base_table
        self.rollup = rollup_table
        self.app_id = app_id

    def refresh(self, touched: DataFrame, batch_id: int) -> None:
        """``touched`` is a DataFrame with a ``conv_id`` column (the
        applier passes the persisted dedup output — touched-set
        extraction costs a memory scan, never a driver-side collect, so
        a bulk batch touching millions of conversations still never
        materializes ids on the driver)."""
        app_id = self.app_id or "transcripts-rollup"
        prev = self.rollup.last_committed_batch(app_id)
        if prev is not None and batch_id <= prev:
            return  # replayed batch: rollup already reflects it
        from gear5_spark.lake.merge import active
        from gear5_spark.operators.conversations import conversation_stats

        touched = touched.select("conv_id").distinct()
        base = self._pruned_base(touched)
        # soft-delete tables keep tombstones in read() — a tombstoned
        # turn is not a live turn, and a fully-tombstoned conversation
        # must register as gone
        turns = active(base).join(touched, "conv_id", "inner")
        stats = conversation_stats(turns)
        # conversations with zero surviving turns -> delete from rollup
        gone = touched.join(
            stats.select("conv_id"), "conv_id", "left_anti"
        )
        batch = (
            stats.withColumn("op", F.lit("update"))
            .unionByName(
                gone.withColumn("op", F.lit("delete")),
                allowMissingColumns=True,
            )
            .withColumn("_cdc_lsn", F.lit(str(batch_id)))
            .withColumn("_cdc_updated_at", F.current_timestamp())
            .withColumn(
                "_cdc_deleted_at", F.lit(None).cast("timestamp")
            )
        )
        merge_into(
            self.rollup,
            batch,
            # order_guard OFF: the recompute is authoritative (full stats
            # over CURRENT base state), and _cdc_lsn here is a per-applier
            # batch id — a bulk catch-up (fresh ledger, batch 0) refreshing
            # rows stamped by a stream applier's batch 50 would otherwise
            # lose the LSN comparison and leave the rollup stale forever.
            # Replay safety comes from the per-app txn ledger, not the guard.
            order_guard=False,
            txn_app_id=app_id,
            txn_batch_id=batch_id,
            lineage={"batch_id": batch_id, "event_count": None},
        )

    def _pruned_base(self, touched: DataFrame) -> DataFrame:
        """Bucket-pruned base read when the base table is bucketed by
        ``conv_id`` ALONE (a deliberate layout choice for rollup-heavy
        deployments): every turn of a touched conversation then lives in
        a computable bucket, so the refresh opens only those buckets.
        The touched bucket SET (<= n_buckets ints) is computed
        distributively and collected — O(n_buckets) driver rows however
        many conversations the batch touched. Under the default full-key
        bucketing — which spreads hot conversations across all buckets
        instead — a conversation's turns can live anywhere, so the read
        falls back to a full scan with predicate pushdown (conv_id
        row-group stats skip inside files, especially with
        ``sort_columns`` clustering); per-batch SHUFFLE work is
        O(touched) either way."""
        snap = self.base.snapshot()
        if bucket_columns_of(snap) == ["conv_id"]:
            buckets = sorted(
                r[0]
                for r in touched.select(
                    self.base.bucket_expr(snap).alias("b")
                )
                .distinct()
                .collect()
            )
            return self.base.read(snapshot=snap, buckets=buckets)
        return self.base.read(snapshot=snap)

    def read(self) -> DataFrame:
        return self.rollup.read()
