"""Incremental read between snapshots — the lake table as a change SOURCE.

The reference is a one-way pipe (source -> stdout). A lake table with
snapshot history can also *emit* changes: ``table_diff(v_from, v_to)``
reconstructs the row-level change set between two committed snapshots
(insert/update/delete per key), turning any table into a downstream CDC
feed (Iceberg's incremental read / changelog scan equivalent).

Physical plan: one full-outer join of the two snapshot reads on the key,
change kind decided by null-ness + ``_cdc_lsn`` inequality. File-level
optimization: buckets whose file lists are identical between the two
snapshots are skipped entirely (their content cannot differ — files are
immutable), so the join touches only buckets that actually changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gear5_spark.lake.table import CDC_LSN, LakeTable, entry_buckets


def _changed_buckets(table: LakeTable, v_from: int, v_to: int) -> list[int] | None:
    """Buckets whose immutable file sets differ between the snapshots;
    None means bucket layout changed and no pruning applies."""
    a = table.snapshot(v_from)
    b = table.snapshot(v_to)
    if a.properties.get("n_buckets") != b.properties.get("n_buckets"):
        return None

    def by_bucket(files):
        m: dict[int, set] = {}
        for f in files:
            for bucket in entry_buckets(f):
                m.setdefault(bucket, set()).add(f["path"])
        return m

    ma, mb = by_bucket(a.files), by_bucket(b.files)
    return sorted(
        k for k in set(ma) | set(mb) if ma.get(k, set()) != mb.get(k, set())
    )


def table_diff(table: LakeTable, v_from: int, v_to: int | None = None) -> DataFrame:
    """Row-level changes from snapshot ``v_from`` to ``v_to`` (default:
    current). Output: key columns + ``change`` (insert|update|delete) +
    the after-image columns (null for deletes)."""
    v_to = table.current_version() if v_to is None else v_to
    snap_to = table.snapshot(v_to)
    key_cols = snap_to.properties["key_columns"]
    buckets = _changed_buckets(table, v_from, v_to)

    old = table.read(snapshot=table.snapshot(v_from), buckets=buckets)
    new = table.read(snapshot=snap_to, buckets=buckets)
    data_cols = [c for c in new.columns if c not in key_cols]

    # additive evolution: columns added after v_from read as nulls in the
    # old image
    for f in snap_to.schema.fields:
        if f.name not in old.columns:
            old = old.withColumn(f.name, F.lit(None).cast(f.dataType))

    o = old.select(*key_cols, F.struct(*data_cols).alias("_o"))
    n = new.select(*key_cols, F.struct(*data_cols).alias("_n"))
    j = o.join(n, on=key_cols, how="full_outer")

    change = (
        F.when(F.col("_o").isNull(), F.lit("insert"))
        .when(F.col("_n").isNull(), F.lit("delete"))
        .when(
            # null-SAFE inequality: with a NULL or non-numeric lsn on
            # either side, plain != yields NULL and real updates would
            # silently classify as unchanged
            ~F.col(f"_n.{CDC_LSN}")
            .try_cast("long")
            .eqNullSafe(F.col(f"_o.{CDC_LSN}").try_cast("long")),
            F.lit("update"),
        )
        .otherwise(F.lit(None))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *key_cols,
            "change",
            *[F.col(f"_n.{c}").alias(c) for c in data_cols],
        )
    )
