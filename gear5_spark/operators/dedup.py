"""Latest-event-per-key reduction (micro-batch CDC dedup).

The reference applies WAL changes strictly one-at-a-time in LSN order
(``/root/reference/pkg/waljs/waljs.go:332-348`` serial OnMessage loop), so
"last write wins per key" is implicit (SURVEY.md A5). A distributed
micro-batch sees many events per key at once, so the reduction must be
explicit and deterministically ordered by ``(lsn, txn_seq)``.

One reduction, ``groupBy(key).agg(max_by(payload, struct(lsn,
txn_seq)))``. In the applier the raw batch is first placed by the lake
table (``LakeTable.place``: one ``repartitionById`` exchange on ``_pslot``),
and the reduction groups on ``(_pslot, key)`` inside those partitions —
partial then final ``SortAggregate`` after the one exchange, no
aggregate before it, so every raw event crosses the shuffle. On an
unplaced input (``co_group_cols`` empty) Catalyst plans the usual
partial aggregate before its key exchange instead.

Skew is the placement's job: the table buckets on the full key, so a
hot ``conv_id`` spreads over its many ``turn_idx`` values (SURVEY.md §4
skew row). A single hot *key* still lands in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_COLS = ("lsn", "txn_seq")


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: tuple[str, ...] = ORDER_COLS,
    co_group_cols: list[str] | None = None,
) -> DataFrame:
    """Reduce a change-event DataFrame to the single latest event per key.

    Output columns == input columns (latest event's values win wholesale).
    Ties are impossible by construction — (lsn, txn_seq) is unique per
    event (FIXTURES.md §2) — but the struct ordering is total regardless.

    ``co_group_cols``: columns FUNCTIONALLY DEPENDENT on the key (e.g. a
    bucket/placement slot derived from it) added to the groupBy. Groups
    are unchanged; the point is physical: when the input is already
    partitioned on one of these columns, Catalyst elides the
    aggregation exchange entirely — dedup runs shuffle-free inside the
    partitioning an upstream placement chose (see ``LakeTable.place``).
    """
    group_cols = [*(co_group_cols or []), *key_cols]
    payload_cols = [c for c in df.columns if c not in group_cols]
    ord_expr = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return (
        df.groupBy(*group_cols)
        .agg(F.max_by(payload, ord_expr).alias("_p"))
        .select(*group_cols, *[F.col(f"_p.{c}").alias(c) for c in payload_cols])
        .select(*df.columns)
    )
