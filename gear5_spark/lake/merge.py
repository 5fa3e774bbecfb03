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

One physical plan: a full-outer join on the key with a per-row CASE
that picks the winning side, so the join executes once.

Every batch is LSN-guarded: a batch row only wins if its ``_cdc_lsn``
>= the stored row's. This makes apply *order-insensitive across
micro-batches* for live rows (replays, reordered batches and a change
log older than a loaded snapshot can never regress a row), strictly
stronger than the reference's reliance on serial WAL order
(``pkg/waljs/waljs.go:332-348``). The rule is :func:`lww_order`, and
merge-on-read reads and compaction (``mor.reconstruct``) run this same
guarded plan, placed at the merge-on-read slot count, with each key's
winning delta as the batch side. The guard degrades to batch-wins only
when either side lacks ``_cdc_lsn``. Caveat: on a ``hard`` delete table
the delete also removes the key's LSN watermark, so a REORDERED older
update arriving after the delete re-inserts the row — full
order-insensitivity across deletes needs a ``soft`` table (tombstones
keep the watermark). The engine's own feeds deliver batches in
checkpoint order, where hard deletes are safe.

The delete policy is the table's ``delete_mode`` property
(``table.delete_mode_of``), never a per-call choice: ``hard`` drops
delete winners, ``soft`` keeps them as tombstones. Both sinks evolve
the schema through one step, :func:`evolve_schema`.

Scale properties:
- only *affected buckets* (those containing a batched key), widened to
  the whole slots the batch is placed on, are read and rewritten —
  copy-on-write amplification is O(affected slots), not O(table);
  file-level pruning comes from manifest bucket metadata;
- one join formulation: both sides are placed by the table
  (``LakeTable.place``) on the same slots, and the full-outer join on
  ``[_pslot, *key]`` builds a shuffled hash table over the (one row per
  key) batch side with no further exchange; its output partitions are
  already placed for the bucketed write.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.table import (
    BUCKET_COL,
    CDC_DELETED_AT,
    CDC_LSN,
    SLOT_COL,
    ConcurrentCommitError,
    LakeTable,
    Placement,
    Snapshot,
    _project,
    delete_mode_of,
    entry_buckets,
    touches,
    whole_file_scope,
)
from gear5_spark.operators.typing import merge_schemas

# batch columns that never land in the target table: the change op
# (merge-on-read stores it as ``_op``), the placement columns and the
# change-feed metadata
_NON_TABLE_COLS = {
    "op", "_op", BUCKET_COL, SLOT_COL, "lsn", "txn_id", "txn_seq", "ts_ms",
}


@dataclass
class MergeStats:
    affected_buckets: list[int]
    rewritten_files: int
    kept_files: int
    schema_changes: list[str]


def merge_into(
    table: LakeTable,
    batch: DataFrame,
    txn_app_id: str | None = None,
    txn_batch_id: int | None = None,
    lineage: dict[str, Any] | None = None,
    affected_buckets: list[int] | None = None,
    pre_placed: Placement | None = None,
) -> tuple[Snapshot, MergeStats]:
    """Apply a deduped change batch (one row per key) to the table.

    ``batch`` columns: key columns + ``op`` + any subset of target columns
    (missing -> null-backfilled; new -> additive schema evolution via the
    widening lattice). On a ``soft`` delete table (its ``delete_mode``
    property), deletes survive as tombstones with ``_cdc_deleted_at``
    set; on a ``hard`` one they remove the row.

    ``pre_placed``: the placement the batch was placed with
    (``LakeTable.place``; the batch then still carries ``_pslot``). A
    batch that is not placed under this merge's snapshot — no
    ``_pslot``, no ``pre_placed``, or a layout or shuffle width that
    drifted since — is placed here.

    The join always runs CO-PARTITIONED on the slot: the target side is
    placed on the batch's slots, ``_pslot`` leads the equi-join keys (it
    is functionally dependent on the key columns, so the join result is
    unchanged), and the join's output partitions — each holding exactly
    one slot — feed the bucketed write directly. An applier batch,
    placed before its dedup, is never shuffled again; the write never
    repartitions. Measured on the 4x1M-event CoW stream: the merge+write
    stage shuffled 2.7 GB with a key-shuffled join and a placing write,
    ~0.8 GB co-partitioned.

    The rewritten bucket set widens to the whole range of every file it
    touches (merge-on-read deltas, earlier range-placed batches), so
    range files are always dropped whole. When the placement's slots
    group whole buckets (a batch placed at a shuffle width below the
    bucket count) it also widens to whole slots: each slot writes one
    file over its bucket range, which replaces every file of that
    range. A batch touching one bucket of a 32-bucket table on a
    width-8 session therefore rewrites that bucket's slot of four.
    """
    snap = table.snapshot()
    soft = delete_mode_of(snap) == "soft"
    key_cols = snap.properties["key_columns"]

    evolved, changes = evolve_schema(snap.schema, batch)
    write_schema = T.StructType(
        list(evolved.fields) + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
    )

    keyed = batch.withColumn(BUCKET_COL, table.bucket_expr(snap))
    # the target is placed at the table's width below; a batch placed at
    # any other slot count would miss its target rows in the slot join
    if pre_placed != table._placement(snap) or SLOT_COL not in batch.columns:
        keyed, pre_placed = table.place(keyed, snap)

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
    # rewrite whole files only: a file holding a bucket range drags its
    # other buckets into the rewrite, and so does a slot that groups
    # whole buckets — its one new file replaces every file of its range
    affected_set = whole_file_scope(snap.files, affected, pre_placed)
    affected = sorted(affected_set)
    if any(touches(f, affected_set) for f in snap.files):
        # one explicit shuffle of the target to the batch's slot layout;
        # leading the equi-join with the (key-dependent) slot makes the
        # join exchange-free on both sides and its output write-placed
        target, _ = table.place(
            table.read(snapshot=snap, buckets=affected, with_internal=True), snap
        )
        new_data = _guarded_merge(
            target, keyed, [SLOT_COL, *key_cols], key_cols, "op", soft,
            write_schema,
        )
    else:
        # nothing to merge against (bootstrap load / untouched buckets):
        # skip the join entirely — dedup output IS the new bucket content
        upserts = keyed if soft else keyed.filter(F.col("op") != "delete")
        new_data = _project(upserts, write_schema)
    try:
        _, new_entries = table.write_data_files(
            new_data, snap=snap, pre_placed=pre_placed
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


def evolve_schema(
    schema: T.StructType, batch: DataFrame
) -> tuple[T.StructType, list[str]]:
    """The table schema once ``batch`` lands, and its changes: the one
    schema-evolution step of both sinks (``merge_into``,
    ``mor.merge_delta``). New columns append; an existing column whose
    batch type is WIDER evolves in place along the lattice (long ->
    double -> string). The widen is metadata-only — commit stamps the
    kept manifests with the written physical type and
    ``read_file_entries`` casts those eras up (``table.widen_column``);
    a NARROWER batch type is absorbed by the writer's cast, and an
    incompatible one raises."""
    fields = [f for f in batch.schema.fields if f.name not in _NON_TABLE_COLS]
    return merge_schemas(schema, T.StructType(fields))


def lww_order(lsn: Column, newer: bool) -> Column:
    """The one last-write-wins order of a change with LSN ``lsn`` (the
    greater wins); ``newer`` marks the side that wins ties (batch or
    delta rows; stored rows pass False). With the LSN read as a long, a
    newer change without one wins, a stored row without one loses, and
    equal LSNs go to the newer side. The merge guard compares a batch
    row's order with the stored row's; merge-on-read's dedup picks each
    key's winning delta by it."""
    n = lsn.try_cast("long")
    return F.struct(
        (F.lit(newer) & n.isNull()).alias("unnumbered"),
        F.coalesce(n, F.lit(-(2**63))).alias("lsn"),
        F.lit(newer).alias("newer"),
    )


def _guarded_merge(
    target: DataFrame,
    keyed_batch: DataFrame,
    join_cols: list[str],
    key_cols: list[str],
    op_col: str,
    soft: bool,
    write_schema: T.StructType,
) -> DataFrame:
    """Full-outer merge with LSN guard on ``join_cols`` (no exchange
    when both sides arrive co-partitioned on a leading slot column — see
    ``merge_into``): a batch row wins when its :func:`lww_order` is
    greater than the stored row's. ``soft`` keeps delete winners as
    tombstones. Copy-on-write MERGE, merge-on-read reads and
    compaction (``mor.reconstruct``) all run this plan.

    The (one-row-per-key, post-dedup) batch side is hinted as a
    shuffled-hash build instead of sort-merge — per-partition hash
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
    j = t.join(b.hint("shuffle_hash"), on=join_cols, how="full_outer")

    # the documented batch contract allows any SUBSET of target columns:
    # referencing a struct field neither side carries would fail at plan
    # time, so the guard degrades to batch-wins (as lww_order does for a
    # NULL batch lsn) when either side lacks the ordering column
    if CDC_LSN in t_payload and CDC_LSN in b_payload:
        guard = lww_order(F.col(f"_b.{CDC_LSN}"), True) > lww_order(
            F.col(f"_t.{CDC_LSN}"), False
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
    if not soft:
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
