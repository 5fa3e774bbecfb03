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
  file-level pruning comes from manifest bucket metadata. The scope,
  read, write and commit are ``LakeTable._rewrite``, the one
  bucket-rewrite path compaction and ``delete_where`` share;
- one join formulation: both sides are placed by the table
  (``LakeTable.place``) on the same slots, and the full-outer join on
  ``[_pslot, *key]`` builds a shuffled hash table over the (one row per
  key) batch side with no further exchange; its output partitions are
  already placed for the bucketed write. A scope holding no file (a
  bootstrap load, untouched buckets) writes the batch with no join.
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
    LakeTable,
    Placement,
    Snapshot,
    _project,
    delete_mode_of,
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
    set; on a ``hard`` one they remove the row. A change whose ``op`` is
    NULL is an upsert (:func:`_is_delete`).

    ``pre_placed``: the placement the batch was placed with
    (``LakeTable.place``; the batch then still carries ``_pslot``). A
    batch that is not placed under this merge's snapshot — no
    ``_pslot``, no ``pre_placed``, or a layout or shuffle width that
    drifted since — is placed here.

    ``affected_buckets``: the buckets the batch's rows hash to, when the
    caller already knows them (the applier gets them from an earlier
    pass over the raw batch); otherwise one job probes them. A declared
    set that misses a row fails the merge before commit.

    The rewrite (``LakeTable._rewrite``) widens the affected buckets to
    whole files and whole slots, reads that scope and folds the batch
    into it. The join always runs CO-PARTITIONED on the slot: the target
    side is placed on the batch's slots, ``_pslot`` leads the equi-join
    keys (it is functionally dependent on the key columns, so the join
    result is unchanged), and the join's output partitions — each
    holding exactly one slot — feed the bucketed write directly. An
    applier batch, placed before its dedup, is never shuffled again; the
    write never repartitions. Measured on the 4x1M-event CoW stream: the
    merge+write stage shuffled 2.7 GB with a key-shuffled join and a
    placing write, ~0.8 GB co-partitioned. A batch touching one bucket
    of a 32-bucket table on a width-8 session rewrites that bucket's
    slot of four.
    """
    snap = table.snapshot()
    soft = delete_mode_of(snap) == "soft"
    key_cols = snap.properties["key_columns"]

    evolved, _ = evolve_schema(snap.schema, batch)
    write_schema = T.StructType(
        list(evolved.fields) + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
    )

    keyed = batch.withColumn(BUCKET_COL, table.bucket_expr(snap))
    # the target is placed at the table's width; a batch placed at any
    # other slot count would miss its target rows in the slot join
    if pre_placed != table._placement(snap) or SLOT_COL not in batch.columns:
        keyed, _ = table.place(keyed, snap)
    probe = affected_buckets is None
    if probe:
        # persist: the probe and the merge join would otherwise both
        # execute the whole upstream (parse + dedup shuffle)
        keyed = keyed.persist()
        affected_buckets = [
            r[0] for r in keyed.select(BUCKET_COL).distinct().collect()
        ]

    def fold(target: DataFrame | None) -> DataFrame:
        if target is None:
            # nothing to merge against (bootstrap load, untouched
            # buckets): the batch IS the new content. Kept as a branch,
            # not left to the optimizer (which also plans the join
            # away): without it every perfbench backfill run got slower
            # (median events/CPU-s 12,967 -> 9,831 over 3 interleaved
            # pairs; lake.merge_s 0.51 -> 0.83 s, lake.write_s 0.44 ->
            # 0.64 s at the same 7 jobs per batch)
            upserts = keyed if soft else keyed.filter(~_is_delete(F.col("op")))
            return _project(upserts, write_schema)
        return _guarded_merge(
            target, keyed, [SLOT_COL, *key_cols], key_cols, "op", soft,
            write_schema,
        )

    try:
        new_snap, scope = table._rewrite(
            snap, affected_buckets, fold, schema=evolved,
            txn_app_id=txn_app_id, txn_batch_id=txn_batch_id, lineage=lineage,
        )
    finally:
        if probe:
            keyed.unpersist()
    return new_snap, MergeStats(affected_buckets=sorted(scope))


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


def _is_delete(op: Column) -> Column:
    """True for a delete change. A NULL ``op`` is an upsert, in every
    plan of both sinks."""
    return F.coalesce(op == "delete", F.lit(False))


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

    Each side is packed once into one struct of ``write_schema``'s
    non-key fields at their types (a column the side lacks is NULL), and
    one CASE picks the winning struct whole.

    The (one-row-per-key, post-dedup) batch side is hinted as a
    shuffled-hash build instead of sort-merge — per-partition hash
    tables over the slot-bounded batch slice skip sorting both sides'
    full payload rows. The hint degrades to sort-merge wherever
    inapplicable, so it is advisory, never a correctness lever."""
    payload = [f for f in write_schema.fields if f.name not in key_cols]

    def pack(df: DataFrame) -> Column:
        have = set(df.columns)
        return F.struct(
            *[
                (F.col(f.name) if f.name in have else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in payload
            ]
        )

    # the documented batch contract allows any SUBSET of target columns:
    # the guard degrades to batch-wins (as lww_order does for a NULL
    # batch lsn) when either side lacks the ordering column; it reads
    # the batch's own lsn value, before any cast to the table's type
    guarded = CDC_LSN in target.columns and CDC_LSN in keyed_batch.columns
    t = target.select(*join_cols, pack(target).alias("_t"))
    b = keyed_batch.select(
        *join_cols,
        pack(keyed_batch).alias("_b"),
        _is_delete(F.col(op_col)).alias("_del"),
        *([F.col(CDC_LSN).alias("_blsn")] if guarded else []),
    )
    j = t.join(b.hint("shuffle_hash"), on=join_cols, how="full_outer")
    guard = F.lit(True)
    if guarded:
        guard = lww_order(F.col("_blsn"), True) > lww_order(
            F.col(f"_t.{CDC_LSN}"), False
        )
    batch_wins = F.col("_b").isNotNull() & (F.col("_t").isNull() | guard)

    # ONE pass over ONE join: a per-row CASE picks the winning side, so the
    # join executes once (a kept/applied filter+union pair would run the
    # whole join subtree twice)
    out = j.withColumn("_r", F.when(batch_wins, F.col("_b")).otherwise(F.col("_t")))
    if not soft:
        out = out.filter(~(batch_wins & F.col("_del")))
    return out.select(
        *[
            (
                F.col(f.name).cast(f.dataType) if f.name in key_cols
                else F.col(f"_r.{f.name}")
            ).alias(f.name)
            for f in write_schema.fields
        ]
    )


def active(df: DataFrame) -> DataFrame:
    """Filter out soft-deleted tombstones (reads of a soft-delete table)."""
    if CDC_DELETED_AT in df.columns:
        return df.filter(F.col(CDC_DELETED_AT).isNull())
    return df
