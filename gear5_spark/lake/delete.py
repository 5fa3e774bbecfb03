"""Predicate deletes: ``DELETE FROM table WHERE <condition>``.

The compliance path (GDPR/right-to-be-forgotten) a CDC sink needs
beyond feed-driven per-key deletes: remove every row matching an
arbitrary predicate, physically, in one atomic commit. Pairs with
:mod:`gear5_spark.text.stats`' PII scanner — scan, then
``delete_where(table, F.col("has_pii"))``-style scrubbing.

Plan shape (scales to 100 TB):
1. candidate files via manifest-stats pruning when ``filters`` triples
   are given (no footers opened), else the full file set;
2. ONE job finds the distinct buckets actually containing matches
   (bucket ids ride the data, so this is a scan + tiny distinct);
3. only those buckets rewrite (widened to the whole range of every
   file they touch and to whole placement slots, as in compaction):
   their rows re-filtered and written as fresh base files, one per slot
   (MoR deltas of the bucket fold in through ``mor.reconstruct`` — the
   copy-on-write guarded merge), every other file is carried into the
   new snapshot untouched;
4. one atomic commit, lineage records the logical delete count.

Null semantics are SQL DELETE's: a row deletes only when the predicate
is TRUE — NULL keeps the row.

Full erasure (right-to-be-forgotten): the delete commit removes rows
from the CURRENT snapshot only. A physical purge is the four-step
sequence — tested end-to-end in ``tests/test_delete_where.py``:

1. ``delete_where(...)`` — rows leave the current snapshot;
2. ``table.rewrite_manifests()`` — dead manifest entries (whose min/max
   stats can carry deleted key values) leave the metadata;
3. ``table.expire_snapshots(keep_last=1, manifest_retention_sec=0)``
   (writer stopped, so no in-flight grace needed) — prior snapshots and their
   manifests are dropped;
4. ``table.vacuum(...)`` — the old data files (whole orphan commit dirs
   AND per-file orphans inside live dirs) are deleted from disk.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from gear5_spark.lake.table import (
    BUCKET_COL,
    LakeTable,
    Snapshot,
    entry_buckets,
    touches,
    whole_file_scope,
)


def delete_where(
    table: LakeTable,
    condition: Column | str,
    filters: list[tuple[str, str, Any]] | None = None,
    txn_app_id: str | None = None,
    txn_batch_id: int | None = None,
) -> tuple[Snapshot, int]:
    """Atomically remove all rows where ``condition`` is TRUE.

    ``condition`` may be a Column or a SQL expression string.
    ``filters`` (optional ``(col, op, value)`` triples implied by the
    condition) enable manifest-stats file pruning for the match scan.
    Returns ``(new_snapshot, rows_deleted)`` — ``rows_deleted == 0``
    returns the current snapshot unchanged (no empty commit).
    """
    if isinstance(condition, str):
        condition = F.expr(condition)
    snap = table.snapshot()
    if not snap.files:
        return snap, 0

    if filters:
        cand_files, _ = table.plan_scan(filters, snap)
    else:
        cand_files = snap.files
    if not cand_files:
        return snap, 0
    # MoR correctness: operate on whole buckets (a delta row may satisfy
    # the predicate while its base row does not, and vice versa)
    cand_buckets = {b for f in cand_files for b in entry_buckets(f)}
    cand = [f for f in snap.files if touches(f, cand_buckets)]

    scoped = table._read_files(
        snap, cand, with_internal=True, buckets=cand_buckets
    )
    is_hit = condition.isNotNull() & condition
    hits = (
        scoped.filter(is_hit)
        .groupBy(BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not hits:
        return snap, 0
    n_deleted = int(sum(r["n"] for r in hits))
    # rewrite whole files only: a range file drags its other buckets in,
    # and so does the slot the write places each bucket in
    hit = {r[BUCKET_COL] for r in hits}
    scope = whole_file_scope(snap.files, hit, table._placement(snap))

    in_scope = [f for f in snap.files if touches(f, scope)]
    out_scope = [f for f in snap.files if not touches(f, scope)]
    remaining = table._read_files(snap, in_scope, with_internal=True).filter(
        ~is_hit
    )
    _, entries = table.write_data_files(remaining, snap=snap)
    new_snap = table.commit(
        files=out_scope + entries,
        txn_app_id=txn_app_id,
        txn_batch_id=txn_batch_id,
        basis=snap,
        lineage={
            "batch_id": txn_batch_id,
            "event_count": -n_deleted,  # negative = rows removed
            "txn_ids_hash": "delete_where",
        },
    )
    return new_snap, n_deleted
