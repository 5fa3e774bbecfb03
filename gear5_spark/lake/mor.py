"""Merge-on-read (MoR) mode: delta files + reconstruct-on-read + compaction.

Copy-on-write MERGE (lake/merge.py) rewrites every affected bucket per
micro-batch — with uniformly distributed keys that approaches a full-table
rewrite per batch, the classic CoW write-amplification wall. MoR is the
Iceberg/Hudi answer, built here on the same manifest format:

- ``merge_delta``  — write the deduped batch AS-IS as *delta* files
  (manifest entries carry ``kind: delta``); base files untouched.
  Write cost per batch: O(batch), not O(table). The applier places
  every batch with ``LakeTable.place`` (``min(width, n_buckets)``
  slots), so a batch writes at most that many delta files, each
  holding a contiguous ``bucket_range`` when slots group buckets.
- ``LakeTable.read`` — when a snapshot holds deltas, ``reconstruct``:
  the copy-on-write guarded merge (``merge._guarded_merge``) of the
  base rows with each key's winning delta, both placed by
  ``LakeTable.place``. One last-write-wins rule (``merge.lww_order``)
  and one delete policy serve both sinks. Read cost grows with
  resident deltas.
- ``compact``      — the same plan, written as base files one per slot
  (deltas folded in), bounding read amplification; the applier
  auto-compacts every ``compact_every`` batches. It folds every bucket
  that holds a delta through ``LakeTable._rewrite``, the one
  bucket-rewrite path copy-on-write MERGE and ``delete_where`` share,
  so its scope widens to whole range files and whole slots.

Caveat: among deltas a change without a numeric LSN wins, as a CoW
batch row does, so the result can depend on when compaction runs. A
NULL-LSN delta followed by a numbered delta to the same key reads as
the NULL-LSN one until compaction, but as the numbered one (CoW's
answer) when compaction ran between them. The engine's own feeds
always carry numeric LSNs.

Exactly-once carries over unchanged: delta commits go through the same
atomic manifest publish + txn ledger.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.merge import _guarded_merge, evolve_schema, lww_order
from gear5_spark.lake.table import (
    BUCKET_COL,
    CDC_LSN,
    SLOT_COL,
    LakeTable,
    Placement,
    Snapshot,
    _project,
    delete_mode_of,
    entry_buckets,
    read_file_entries,
)
from gear5_spark.operators.dedup import latest_per_key

OP_COL = "_op"


def merge_delta(
    table: LakeTable,
    batch: DataFrame,
    txn_app_id: str | None = None,
    txn_batch_id: int | None = None,
    lineage: dict[str, Any] | None = None,
    pre_placed: Placement | None = None,
) -> Snapshot:
    """Append the deduped batch as delta files; no base rewrite.

    The batch keeps its ``op`` (persisted as ``_op``) so deletes survive
    as logical tombstones until compaction. ``pre_placed``: the
    placement the batch was placed with upstream (``LakeTable.place``),
    passed through to ``LakeTable.write_data_files`` so the delta write
    keeps it instead of placing the batch again."""
    snap = table.snapshot()
    evolved, _changes = evolve_schema(snap.schema, batch)
    delta = _project(
        batch.withColumn(BUCKET_COL, table.bucket_expr(snap)).withColumn(
            OP_COL, F.col("op")
        ),
        _delta_schema(evolved),
    )
    _, entries = table.write_data_files(delta, snap=snap, pre_placed=pre_placed)
    for e in entries:
        e["kind"] = "delta"
    return table.commit(
        files=snap.files + entries,
        schema=evolved,
        txn_app_id=txn_app_id,
        txn_batch_id=txn_batch_id,
        lineage=lineage,
        basis=snap,
    )


def _delta_schema(schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(schema.fields)
        + [
            T.StructField(BUCKET_COL, T.IntegerType()),
            T.StructField(OP_COL, T.StringType()),
        ]
    )


def reconstruct(
    table: LakeTable,
    snap: Snapshot,
    files: list[dict[str, Any]],
    with_internal: bool = False,
    buckets: set[int] | None = None,
    where: Column | None = None,
) -> DataFrame:
    """Merge base + delta files into the logical current state.

    The deltas reduce to one winner per key with the dedup operator
    (``max_by`` over ``lww_order``), then run the copy-on-write guarded
    merge against the base rows. Both sides are placed by
    ``LakeTable.place``, so the dedup and the join need no further
    exchange: the join builds its hash table over the winners and
    streams base rows past it, never sorting or aggregating them.
    ``buckets``: reconstruct only these buckets' rows (the caller read
    range files for some of their buckets); ``files`` must hold every
    file of each of them. ``where``: a key-column predicate applied to
    both sides before the merge."""
    key_cols = snap.properties["key_columns"]

    def placed(kind_files, schema):
        # era-aware read (in-place widening, table.read_file_entries)
        df = read_file_entries(
            table.spark, table.table_dir, kind_files, schema, buckets
        )
        if where is not None:
            df = df.filter(where)
        return table.place(df, snap)[0]

    deltas = placed(
        [f for f in files if f.get("kind") == "delta"], _delta_schema(snap.schema)
    )
    write_schema = table._read_schema(snap)
    base = placed([f for f in files if f.get("kind") != "delta"], write_schema)
    lsn = F.col(CDC_LSN) if CDC_LSN in snap.schema.names else F.lit(None)
    winners = latest_per_key(
        deltas.withColumn("_lww", lww_order(lsn, True)),
        key_cols,
        ("_lww",),
        co_group_cols=[SLOT_COL],
    ).drop("_lww")
    soft = delete_mode_of(snap) == "soft"
    merged = _guarded_merge(
        base, winners, [SLOT_COL, *key_cols], key_cols, OP_COL, soft,
        write_schema,
    )
    if with_internal:
        return merged
    return merged.select(*[f.name for f in snap.schema.fields])


def compact(table: LakeTable) -> Snapshot | None:
    """Fold resident deltas into base files for every bucket that holds a
    delta. No-op (returns None) when there is nothing to compact. The
    rewrite (``LakeTable._rewrite``) widens that scope to whole files
    and whole placement slots, so no file is ever half-compacted and
    each slot's one new base file — the reconstructed rows, written as
    they lie — replaces its range.

    Runs as its own atomic commit — a crash mid-compaction leaves only
    orphan files; readers keep seeing base+delta until the swap."""
    snap = table.snapshot()
    chosen = {
        b for f in snap.files if f.get("kind") == "delta"
        for b in entry_buckets(f)
    }
    if not chosen:
        return None
    return table._rewrite(snap, chosen)[0]
