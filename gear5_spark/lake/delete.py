"""Predicate deletes: ``DELETE FROM table WHERE <condition>``.

The compliance path (GDPR/right-to-be-forgotten) a CDC sink needs
beyond feed-driven per-key deletes: remove every row matching an
arbitrary predicate, physically, in one atomic commit. Pairs with
:mod:`gear5_spark.text.stats`' PII scanner — scan, then
``delete_where(table, F.col("has_pii"))``-style scrubbing.

Plan shape (scales to 100 TB):
1. ONE job finds the distinct buckets actually containing matches
   (bucket ids ride the data, so this is a scan + tiny distinct);
2. only those buckets rewrite, through ``LakeTable._rewrite`` — the one
   bucket-rewrite path copy-on-write MERGE and compaction share: the
   scope widens to the whole range of every file it touches and to
   whole placement slots, its rows (MoR deltas folded in through
   ``mor.reconstruct``) are re-filtered and written as fresh base
   files, one per slot, and every other file is carried into the new
   snapshot untouched;
3. one atomic commit, lineage records the logical delete count.

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

from pyspark.sql import Column
from pyspark.sql import functions as F

from gear5_spark.lake.table import BUCKET_COL, LakeTable, Snapshot


def delete_where(
    table: LakeTable, condition: Column | str
) -> tuple[Snapshot, int]:
    """Atomically remove all rows where ``condition`` is TRUE.

    ``condition`` may be a Column or a SQL expression string.
    Returns ``(new_snapshot, rows_deleted)`` — ``rows_deleted == 0``
    returns the current snapshot unchanged (no empty commit).
    """
    if isinstance(condition, str):
        condition = F.expr(condition)
    snap = table.snapshot()
    if not snap.files:
        return snap, 0
    # MoR correctness: match against reconstructed rows (a delta row may
    # satisfy the predicate while its base row does not, and vice versa)
    is_hit = condition.isNotNull() & condition
    hits = (
        table.read(snapshot=snap, with_internal=True)
        .filter(is_hit)
        .groupBy(BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not hits:
        return snap, 0
    n_deleted = int(sum(r["n"] for r in hits))
    new_snap, _ = table._rewrite(
        snap,
        {r[BUCKET_COL] for r in hits},
        lambda rows: rows.filter(~is_hit),
        lineage={
            "event_count": -n_deleted,  # negative = rows removed
            "txn_ids_hash": "delete_where",
        },
    )
    return new_snap, n_deleted
