"""Latest-event-per-key reduction (micro-batch CDC dedup).

The reference applies WAL changes strictly one-at-a-time in LSN order
(``/root/reference/pkg/waljs/waljs.go:332-348`` serial OnMessage loop), so
"last write wins per key" is implicit (SURVEY.md A5). A distributed
micro-batch sees many events per key at once, so the reduction must be
explicit and deterministically ordered by ``(lsn, txn_seq)``.

One reduction, ``groupBy(key).agg(max_by(payload, struct(lsn,
txn_seq)))``, with an optional pre-reduction in front of it:

- In the applier the raw batch is first placed by the lake table
  (``LakeTable.place``: one ``Exchange hashpartitioning(_pslot)``), and
  the reduction groups on ``(_pslot, key)`` inside those partitions —
  partial then final ``SortAggregate`` after the one exchange, no
  aggregate before it, so every raw event crosses the shuffle. On an
  unplaced input (``co_group_cols`` empty) Catalyst plans the usual
  partial aggregate before its key exchange instead.
- Salting (``salt_buckets > 1``, :func:`salted_pre_reduce`) is the
  optional pre-reduction for pathological per-key skew (SURVEY.md §4
  skew row): latest event per ``(key, salt)`` — a partial aggregate
  before its own ``(key, salt)`` exchange — so a hot key reaches the
  placement exchange as at most ``salt_buckets`` rows. Salt =
  ``pmod(xxhash64(lsn), S)`` — deterministic, no RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_COLS = ("lsn", "txn_seq")


def _latest(
    df: DataFrame, group_cols: list[str], order_cols: tuple[str, ...]
) -> DataFrame:
    """The row with the greatest ``order_cols`` per ``group_cols``;
    output columns == input columns."""
    payload_cols = [c for c in df.columns if c not in group_cols]
    ord_expr = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return (
        df.groupBy(*group_cols)
        .agg(F.max_by(payload, ord_expr).alias("_p"))
        .select(*group_cols, *[F.col(f"_p.{c}").alias(c) for c in payload_cols])
        .select(*df.columns)
    )


def salted_pre_reduce(
    df: DataFrame,
    key_cols: list[str],
    salt_buckets: int,
    order_cols: tuple[str, ...] = ORDER_COLS,
) -> DataFrame:
    """Latest event per ``(key, salt)``: at most ``salt_buckets`` rows
    per key, same columns as ``df``. The per-key winner among them is
    the per-key winner of ``df``, so :func:`latest_per_key` over the
    result gives the same rows as over ``df``."""
    salt = F.pmod(F.xxhash64(F.col(order_cols[0])), F.lit(salt_buckets))
    return _latest(
        df.withColumn("_salt", salt), [*key_cols, "_salt"], order_cols
    ).drop("_salt")


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: tuple[str, ...] = ORDER_COLS,
    salt_buckets: int = 1,
    co_group_cols: list[str] | None = None,
) -> DataFrame:
    """Reduce a change-event DataFrame to the single latest event per key.

    Output columns == input columns (latest event's values win wholesale).
    Ties are impossible by construction — (lsn, txn_seq) is unique per
    event (FIXTURES.md §2) — but the struct ordering is total regardless.

    ``salt_buckets > 1`` runs :func:`salted_pre_reduce` first.

    ``co_group_cols``: columns FUNCTIONALLY DEPENDENT on the key (e.g. a
    bucket/placement slot derived from it) added to the groupBy. Groups
    are unchanged; the point is physical: when the input is already
    hash-partitioned on one of these columns, Catalyst elides the
    aggregation exchange entirely — dedup runs shuffle-free inside the
    partitioning an upstream placement chose (see ``LakeTable.place``).
    """
    if salt_buckets > 1:
        df = salted_pre_reduce(df, key_cols, salt_buckets, order_cols)
    return _latest(df, [*(co_group_cols or []), *key_cols], order_cols)
