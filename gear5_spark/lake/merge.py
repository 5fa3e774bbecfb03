"""MERGE INTO for the lake table — bucket-pruned copy-on-write upsert.

The reference implies per-key upsert semantics via
``SourceDefinedPrimaryKey`` + soft-delete markers
(``/root/reference/types/stream.go:45-51``,
``drivers/postgres/internal/cdc.go:70-78``) but ships no sink; this module
is that sink, expressed as Spark relational algebra so Catalyst/AQE pick
the physical join strategy:

    MERGE INTO target USING batch ON <key equality>
      WHEN MATCHED AND batch.lsn >= target.lsn AND op='delete' THEN DELETE
      WHEN MATCHED AND batch.lsn >= target.lsn THEN UPDATE SET *
      WHEN NOT MATCHED AND op != 'delete' THEN INSERT *

Two physical paths over the same keyed join shuffle:

- ``order_guard=True`` (default): full-outer join with an LSN guard —
  a batch row only wins if its ``_cdc_lsn`` >= the stored row's. This
  makes apply *order-insensitive across micro-batches* for live rows
  (replays and reordered batches can never regress a row), strictly
  stronger than the reference's reliance on serial WAL order
  (``pkg/waljs/waljs.go:332-348``). Caveat: with ``delete_mode='hard'``
  the delete also removes the key's LSN watermark, so a REORDERED older
  update arriving after the delete re-inserts the row — full
  order-insensitivity across deletes needs ``delete_mode='soft'``
  (tombstones keep the watermark). The engine's own feeds deliver
  batches in checkpoint order, where hard deletes are safe.
- ``order_guard=False``: anti-join + union — cheapest plan for bulk
  replay where the batch is known to contain the globally-latest event
  per key.

Scale properties:
- only *affected buckets* (those containing a batched key) are read and
  rewritten — copy-on-write amplification is O(affected buckets), not
  O(table); file-level pruning comes from manifest bucket metadata;
- the join shuffles on the MERGE key; the batch side is one row per key
  post-dedup, so AQE broadcasts it when it fits; AQE skew-join splits
  oversized partitions.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.table import (
    BUCKET_COL,
    CDC_DELETED_AT,
    CDC_LSN,
    ConcurrentCommitError,
    LakeTable,
    Placement,
    Snapshot,
    entry_buckets,
    touches,
    whole_file_scope,
)
from gear5_spark.operators.typing import merge_schemas

# change-feed metadata columns that never land in the target table
_FEED_META = ("lsn", "txn_id", "txn_seq", "ts_ms")
# upstream placement-slot column (LakeTable.placement_expr) — physical
# partitioning metadata, never a table column
SLOT_COL = "_pslot"


@dataclass
class MergeStats:
    affected_buckets: list[int]
    rewritten_files: int
    kept_files: int
    schema_changes: list[str]


def _project(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Select schema columns, adding typed nulls for columns df lacks
    (null backfill for additive evolution, SURVEY.md ST7)."""
    have = set(df.columns)
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        if f.name in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


def merge_into(
    table: LakeTable,
    batch: DataFrame,
    op_col: str = "op",
    delete_mode: str = "hard",
    order_guard: bool = True,
    txn_app_id: str | None = None,
    txn_batch_id: int | None = None,
    lineage: dict[str, Any] | None = None,
    affected_buckets: list[int] | None = None,
    pre_placed: Placement | None = None,
) -> tuple[Snapshot, MergeStats]:
    """Apply a deduped change batch (one row per key) to the table.

    ``batch`` columns: key columns + ``op`` + any subset of target columns
    (missing -> null-backfilled; new -> additive schema evolution via the
    widening lattice). In ``soft`` delete mode, deletes survive as
    tombstones with ``_cdc_deleted_at`` set; ``hard`` removes the row.

    ``pre_placed``: the batch is already identity-placed (see
    ``LakeTable.placement_expr``) with this placement — the empty-target
    bypass then writes it without a second shuffle.

    When the batch also still CARRIES its placement slot (``_pslot``)
    the join paths run CO-PARTITIONED on the slot: the target side is
    repartitioned to the identical slot layout, ``_pslot`` leads the
    equi-join keys (it is functionally dependent on the key columns, so
    the join result is unchanged), and the join's output partitions —
    each holding exactly one slot — feed the bucketed write directly.
    Per micro-batch this removes two full shuffles of the payload
    (guide §2.4/§3.3): the batch-side join exchange (the batch rides
    its dedup placement) and the write's repartition (the join output
    is already placed). Measured on the 4x1M-event CoW stream: the
    merge+write stage shuffled 2.7 GB before, ~0.8 GB after.
    Ignored (legacy two-shuffle plan) when the batch lacks ``_pslot`` or
    the placement no longer matches the table's layout (bucket count,
    bucket columns or slot count).

    On a table with resident merge-on-read deltas the rewritten bucket
    set widens to the whole range of every delta file it touches, so
    range files are always dropped whole.
    """
    if delete_mode not in ("hard", "soft"):
        raise ValueError(f"delete_mode must be hard|soft, got {delete_mode}")
    snap = table.snapshot()
    key_cols = snap.properties["key_columns"]
    co_partition = (
        pre_placed is not None
        and pre_placed == table.placement(snap, pre_placed.n_slots)
        and SLOT_COL in batch.columns
    )
    if SLOT_COL in batch.columns and not co_partition:
        batch = batch.drop(SLOT_COL)

    # batch-driven evolution: new columns append, and an existing
    # column whose batch type is WIDER evolves in place along the
    # lattice (long -> double -> string). The widen is metadata-only —
    # commit stamps the kept manifests with the written physical type
    # and read_file_entries casts those eras up (see
    # table.widen_column); a NARROWER batch type is absorbed (the
    # _project/_side casts lift it), and an incompatible one raises.
    batch_fields = [
        f
        for f in batch.schema.fields
        if f.name not in (op_col, BUCKET_COL, SLOT_COL)
        and f.name not in _FEED_META
    ]
    evolved, changes = merge_schemas(
        snap.schema, T.StructType(batch_fields), allow_widen=True
    )
    write_schema = T.StructType(
        list(evolved.fields) + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
    )

    keyed = batch.withColumn(BUCKET_COL, table.bucket_expr(snap))

    def _check_declared_buckets(new_entries: list[dict]) -> None:
        # a caller-declared bucket set is a PROMISE that every batch row
        # hashes into it; a row outside (bucket-layout drift, e.g. a
        # concurrent rebucket between the caller's bucket pass and this
        # merge) would be appended while its bucket's old files are
        # kept — duplicate keys published. The writer knows each new
        # file's bucket for free, so verify before commit and fail
        # loudly instead.
        if affected_buckets is None:
            return
        stray = {b for f in new_entries for b in entry_buckets(f)} - affected_set
        if stray:
            raise ConcurrentCommitError(
                f"batch rows landed in buckets {sorted(stray)} outside "
                f"the declared affected_buckets — bucket layout drift "
                "(concurrent rebucket?); retry without affected_buckets"
            )
    if affected_buckets is not None:
        # caller computed bucket membership upstream (it depends only on
        # the bucket column, so it can ride an earlier pass over the raw
        # batch) — no extra job, no persist needed
        affected = sorted(affected_buckets)
    else:
        # persist: the probe and the merge join would otherwise both
        # execute the whole upstream (parse + dedup shuffle)
        keyed = keyed.persist()
        affected = sorted(
            r[0] for r in keyed.select(BUCKET_COL).distinct().collect()
        )
    # rewrite whole files only: a delta holding a bucket range drags
    # its other buckets into the rewrite
    affected_set = whole_file_scope(snap.files, affected)
    affected = sorted(affected_set)
    target_files = [f for f in snap.files if touches(f, affected_set)]
    if not target_files:
        # nothing to merge against (bootstrap load / untouched buckets):
        # skip the join entirely — dedup output IS the new bucket content
        upserts = (
            keyed if delete_mode == "soft"
            else keyed.filter(F.col(op_col) != "delete")
        )
        new_data = _project(upserts, write_schema)
        try:
            _, new_entries = table.write_data_files(
                new_data, snap=snap, pre_placed=pre_placed
            )
        finally:
            if affected_buckets is None:
                keyed.unpersist()
        _check_declared_buckets(new_entries)
        new_snap = table.commit(
            files=list(snap.files) + new_entries,
            schema=evolved,
            txn_app_id=txn_app_id,
            txn_batch_id=txn_batch_id,
            lineage=lineage,
            basis=snap,
        )
        return new_snap, MergeStats(
            affected_buckets=affected,
            rewritten_files=len(new_entries),
            kept_files=len(snap.files),
            schema_changes=changes,
        )

    target = table.read(snapshot=snap, buckets=affected, with_internal=True)

    join_cols = list(key_cols)
    write_pre_placed = None
    if co_partition:
        _, slot_expr = table.placement_expr(snap, pre_placed.n_slots)
        # one explicit shuffle of the target to the batch's slot layout;
        # leading the equi-join with the (key-dependent) slot makes the
        # join exchange-free on both sides and its output write-placed
        target = target.withColumn(SLOT_COL, slot_expr).repartition(
            pre_placed.n_slots, SLOT_COL
        )
        join_cols = [SLOT_COL, *key_cols]
        write_pre_placed = pre_placed

    if order_guard:
        new_data = _guarded_merge(
            target, keyed, join_cols, key_cols, op_col, delete_mode,
            write_schema, hash_build=co_partition,
        )
    else:
        batch_keys = keyed.select(*join_cols).distinct()
        survivors = target.join(batch_keys, on=join_cols, how="left_anti")
        upserts = (
            keyed if delete_mode == "soft"
            else keyed.filter(F.col(op_col) != "delete")
        )
        new_data = _project(survivors, write_schema).unionByName(
            _project(upserts, write_schema)
        )

    try:
        _, new_entries = table.write_data_files(
            new_data, snap=snap, pre_placed=write_pre_placed
        )
    finally:
        if affected_buckets is None:
            keyed.unpersist()
    _check_declared_buckets(new_entries)
    kept = [f for f in snap.files if not touches(f, affected_set)]
    new_snap = table.commit(
        files=kept + new_entries,
        schema=evolved,
        txn_app_id=txn_app_id,
        txn_batch_id=txn_batch_id,
        lineage=lineage,
        basis=snap,
    )
    return new_snap, MergeStats(
        affected_buckets=affected,
        rewritten_files=len(new_entries),
        kept_files=len(kept),
        schema_changes=changes,
    )


def _guarded_merge(
    target: DataFrame,
    keyed_batch: DataFrame,
    join_cols: list[str],
    key_cols: list[str],
    op_col: str,
    delete_mode: str,
    write_schema: T.StructType,
    hash_build: bool = False,
) -> DataFrame:
    """Full-outer merge with LSN guard; one shuffle on the join columns
    (zero when both sides arrive co-partitioned on a leading slot
    column — see ``merge_into``'s ``_pslot`` co-partitioning).

    ``hash_build``: hint a shuffled-hash build on the (one-row-per-key,
    post-dedup) batch side instead of sort-merge — per-partition hash
    tables over the slot-bounded batch slice skip sorting both sides'
    full payload rows. The hint degrades to sort-merge wherever
    inapplicable, so it is advisory, never a correctness lever."""
    t_payload = [c for c in target.columns if c not in join_cols]
    b_payload = [c for c in keyed_batch.columns if c not in join_cols]
    t = target.select(
        *join_cols, F.struct(*[F.col(c) for c in t_payload]).alias("_t")
    )
    b = keyed_batch.select(
        *join_cols, F.struct(*[F.col(c) for c in b_payload]).alias("_b")
    )
    if hash_build:
        b = b.hint("shuffle_hash")
    j = t.join(b, on=join_cols, how="full_outer")

    # the documented batch contract allows any SUBSET of target columns:
    # referencing a struct field neither side carries would fail at plan
    # time, so the guard degrades to batch-wins (same as the coalesce
    # fallback for NULL lsn) when either side lacks the ordering column
    if CDC_LSN in t_payload and CDC_LSN in b_payload:
        guard = F.coalesce(
            F.col(f"_b.{CDC_LSN}").try_cast("long")
            >= F.col(f"_t.{CDC_LSN}").try_cast("long"),
            F.lit(True),
        )
    else:
        guard = F.lit(True)
    batch_wins = F.col("_b").isNotNull() & (F.col("_t").isNull() | guard)
    is_delete = F.coalesce(F.col(f"_b.{op_col}") == "delete", F.lit(False))

    # ONE pass over ONE join: a per-row CASE picks the winning side, so the
    # join executes once (a kept/applied filter+union pair would run the
    # whole join subtree twice)
    def _side(prefix: str, cols: list[str]):
        have = set(cols)
        return F.struct(
            *[
                (
                    F.col(f"{prefix}.{f.name}").cast(f.dataType)
                    if f.name in have
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in write_schema.fields
                if f.name not in key_cols
            ]
        )

    row = F.when(batch_wins, _side("_b", b_payload)).otherwise(
        _side("_t", t_payload)
    )
    out = j.withColumn("_r", row)
    if delete_mode == "hard":
        out = out.filter(~(batch_wins & is_delete))
    non_key = [f.name for f in write_schema.fields if f.name not in key_cols]
    merged = out.select(
        *key_cols, *[F.col(f"_r.{c}").alias(c) for c in non_key]
    )
    return _project(merged, write_schema)


def active(df: DataFrame) -> DataFrame:
    """Filter out soft-deleted tombstones (reads of a soft-delete table)."""
    if CDC_DELETED_AT in df.columns:
        return df.filter(F.col(CDC_DELETED_AT).isNull())
    return df
