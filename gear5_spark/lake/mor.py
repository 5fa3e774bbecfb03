"""Merge-on-read (MoR) mode: delta files + reconstruct-on-read + compaction.

Copy-on-write MERGE (lake/merge.py) rewrites every affected bucket per
micro-batch — with uniformly distributed keys that approaches a full-table
rewrite per batch, the classic CoW write-amplification wall. MoR is the
Iceberg/Hudi answer, built here on the same manifest format:

- ``merge_delta``  — write the deduped batch AS-IS as *delta* files
  (manifest entries carry ``kind: delta``); base files untouched.
  Write cost per batch: O(batch), not O(table). The applier places
  every batch, salted or not, by contiguous bucket range
  (``LakeTable.place``), at most one slot per shuffle partition, so a
  batch writes at most that many delta files and a delta file holds
  several whole buckets when the table has more buckets than the
  session has shuffle partitions (its entry records the inclusive
  ``bucket_range``). An unplaced batch is placed by the write, one slot
  per bucket; compaction writes its base files one per bucket.
- ``LakeTable.read`` — when a snapshot holds deltas, reconstruct: union
  base + deltas, latest-per-key by ``(_cdc_lsn, file kind)``, drop rows
  whose winning op is delete. Read cost grows with resident deltas.
- ``compact``      — fold deltas into base per bucket (the CoW merge path
  reused), bounding read amplification; the applier auto-compacts every
  ``compact_every`` batches. Like every rewrite, it widens its bucket
  scope to whole range files.

Exactly-once carries over unchanged: delta commits go through the same
atomic manifest publish + txn ledger.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.merge import _FEED_META
from gear5_spark.lake.table import (
    BUCKET_COL,
    CDC_LSN,
    SLOT_COL,
    LakeTable,
    Placement,
    Snapshot,
    delete_mode_of,
    entry_buckets,
    touches,
    whole_file_scope,
)
from gear5_spark.operators.typing import merge_schemas

OP_COL = "_op"


def merge_delta(
    table: LakeTable,
    batch: DataFrame,
    op_col: str = "op",
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
    # same evolution contract as the CoW path (lake/merge.py): new
    # columns append, wider batch types widen the schema in place
    # (metadata-only — commit stamps the kept base/delta manifests with
    # their written physical types and reconstruct casts the eras up),
    # narrower ones are absorbed by the cast below
    batch_fields = [
        f
        for f in batch.schema.fields
        if f.name not in (op_col, OP_COL, BUCKET_COL, SLOT_COL)
        and f.name not in _FEED_META
    ]
    evolved, _changes = merge_schemas(
        snap.schema, T.StructType(batch_fields), allow_widen=True
    )

    keyed = batch.withColumn(BUCKET_COL, table.bucket_expr(snap))
    have = set(keyed.columns)
    cols = [
        (
            F.col(f.name).cast(f.dataType)
            if f.name in have
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in evolved.fields
    ]
    delta = keyed.select(
        *cols, F.col(op_col).alias(OP_COL), F.col(BUCKET_COL)
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


def reconstruct(
    table: LakeTable,
    snap: Snapshot,
    files: list[dict[str, Any]],
    with_internal: bool = False,
    buckets: set[int] | None = None,
) -> DataFrame:
    """Merge base + delta files into the logical current state.

    One keyed shuffle (max_by over ``(_cdc_lsn, delta-wins-ties)``) —
    identical machinery to the micro-batch dedup, applied at read time.
    ``buckets``: reconstruct only these buckets' rows (the caller read
    range files for some of their buckets); ``files`` must hold every
    file of each of them."""
    key_cols = snap.properties["key_columns"]
    read_schema = T.StructType(
        list(snap.schema.fields)
        + [
            T.StructField(BUCKET_COL, T.IntegerType(), True),
            T.StructField(OP_COL, T.StringType(), True),
        ]
    )
    from gear5_spark.lake.table import read_file_entries

    # era-aware read (in-place widening): base/delta files written
    # before a widen commit carry narrower physical types — group by
    # era, cast up, union (see table.read_file_entries)
    df = read_file_entries(
        table.spark, table.table_dir, files, read_schema, buckets
    )
    # ordering mirrors the CoW guard (merge.py): a NULL or unparseable
    # LSN on a DELTA row wins (CoW: coalesce(b>=t, True) makes the
    # batch win whenever either LSN is NULL/unparseable), a NULL or
    # unparseable LSN on a BASE row loses, ties prefer delta. Among
    # multiple no-LSN deltas the pick is arbitrary — unreachable from
    # the engine's own feed, whose normalize types lsn numerically.
    is_delta = F.col(OP_COL).isNotNull()
    lsn_num = F.col(CDC_LSN).try_cast("long")
    ord_expr = F.struct(
        F.when(is_delta & lsn_num.isNull(), 1)
        .otherwise(0)
        .alias("o0"),
        F.coalesce(lsn_num, F.lit(-1)).alias("o1"),
        F.when(is_delta, 1).otherwise(0).alias("o2"),
    )
    payload_cols = [c for c in df.columns if c not in key_cols]
    winner = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), ord_expr).alias("_p")
    )
    flat = winner.select(
        *key_cols, *[F.col(f"_p.{c}").alias(c) for c in payload_cols]
    )
    if delete_mode_of(snap) == "soft":
        # soft-delete tables keep delete winners as tombstones — the
        # row's `_cdc_deleted_at` is already stamped by normalize;
        # readers filter with merge.active() (same contract as CoW soft)
        live = flat
    else:
        live = flat.filter(
            F.coalesce(F.col(OP_COL) != "delete", F.lit(True))
        )
    if with_internal:
        return live.select(*[f.name for f in snap.schema.fields], BUCKET_COL)
    return live.select(*[f.name for f in snap.schema.fields])


def compact(
    table: LakeTable,
    buckets: list[int] | None = None,
    txn_app_id: str | None = None,
    txn_batch_id: int | None = None,
    lineage: dict[str, Any] | None = None,
    min_deltas: int = 1,
) -> Snapshot | None:
    """Fold resident deltas into base files for ``buckets`` (default: every
    bucket that has deltas). No-op (returns None) when nothing to compact.

    ``min_deltas`` skips buckets holding fewer resident delta files than
    the threshold: under skewed touch patterns (a few hot conversations
    receiving every update) the hot buckets accumulate deltas fast while
    the cold long tail holds one small delta each — folding those cold
    buckets rewrites their (large) base files for no read-amplification
    gain. Skipping a bucket is always safe: reconstruct() keeps merging
    its base+deltas until a later compaction clears the threshold. A
    delta holding a bucket range counts once for each bucket in it, and
    the chosen buckets then widen to the whole range of every file they
    touch, so no file is ever half-compacted.

    Runs as its own atomic commit — a crash mid-compaction leaves only
    orphan files; readers keep seeing base+delta until the swap."""
    snap = table.snapshot()
    per_bucket: dict[int, int] = {}
    for f in snap.files:
        if f.get("kind") == "delta":
            for b in entry_buckets(f):
                per_bucket[b] = per_bucket.get(b, 0) + 1
    chosen = {b for b, n in per_bucket.items() if n >= max(1, min_deltas)}
    if buckets is not None:
        chosen &= set(buckets)
    if not chosen:
        return None
    target = whole_file_scope(snap.files, chosen)
    in_scope = [f for f in snap.files if touches(f, target)]
    out_scope = [f for f in snap.files if not touches(f, target)]
    merged = reconstruct(table, snap, in_scope, with_internal=True)
    _, entries = table.write_data_files(merged, snap=snap)
    return table.commit(
        files=out_scope + entries,
        txn_app_id=txn_app_id,
        txn_batch_id=txn_batch_id,
        lineage=lineage,
        basis=snap,
    )
