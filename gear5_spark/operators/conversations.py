"""Conversation-level analytics over the transcripts table.

The reference engine stops at delivering per-turn rows (its sinks emit
one record per change — ``/root/reference/protocol/protocol.go`` record
interface); anything conversation-shaped is left to the consumer. A
training-data pipeline over multi-turn transcripts needs the
conversation as a first-class unit: render the full dialogue, score it,
split event streams into sessions, and align turns with external
signals by time. These operators provide that, Spark-first.

Scale notes (100 TB):

- ``render_conversations`` / ``conversation_stats`` are single
  hash-shuffle ``groupBy(conv_id)`` aggregations with map-side partial
  aggregation. ``collect_list`` per group is bounded by conversation
  length (turns per conversation, not corpus size), so group payloads
  stay small even at 10^10 rows. If the transcripts table is read
  straight from the lake, rows arrive already bucketed by
  ``(conv_id, turn_idx)`` — AQE coalesces the near-no-op exchange.
- ``gap_sessionize`` is one shuffle + per-key sort (window). A
  pathologically hot key serializes into one task, as in any
  ordered-gap detection; the operator has no hot-key option.
- ``asof_join`` is the union-window formulation: one shuffle + sort,
  NO range-join row explosion, no per-key driver loop. This is the
  shape that survives 10^10 rows where a naive
  ``l JOIN r ON l.k = r.k AND r.ts <= l.ts`` + max() blows up
  quadratically on dense keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "render_conversations",
    "conversation_stats",
    "gap_sessionize",
    "asof_join",
]


def render_conversations(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """One row per conversation: ``transcript`` is every turn rendered
    as ``role: text`` in stable ``order_col`` order, plus ``n_turns``.

    ``array_sort(collect_list(struct(order, role, text)))`` sorts by the
    struct's leading field — deterministic per-turn ordering without a
    window (no second shuffle, partial aggregation applies).
    """
    turn = F.struct(
        F.col(order_col).alias("o"),
        F.col(role_col).alias("r"),
        F.col(text_col).alias("t"),
    )
    rendered = F.concat_ws(
        sep,
        F.transform(
            F.array_sort(F.collect_list(turn)),
            lambda s: F.concat_ws(": ", s["r"], s["t"]),
        ),
    )
    return turns.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        rendered.alias("transcript"),
    )


def conversation_stats(
    turns: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation shape metrics — one hash aggregation, all
    JVM built-ins: turn count, distinct roles, total characters,
    first/last event time and duration in seconds.

    ``size(collect_set(role))`` instead of ``countDistinct``: role
    cardinality is tiny and bounded, and the collect_set form keeps the
    whole job a single aggregation pass (countDistinct plans an Expand +
    an extra exchange)."""
    return turns.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.size(F.collect_set(role_col)).cast("long").alias("n_roles"),
        F.sum(F.length(text_col)).alias("total_chars"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
        (
            F.max(F.col(ts_col)).cast("long")
            - F.min(F.col(ts_col)).cast("long")
        ).alias("duration_s"),
    )


def gap_sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: int = 1800,
    session_col: str = "session_idx",
) -> DataFrame:
    """Split each key's event stream into sessions wherever the gap to
    the previous event exceeds ``gap_sec`` (lag + running sum — the
    standard single-window formulation; DuckDB/ANSI SQL computes the
    identical expression, which is what the driver oracle checks).

    Gaps compare exact microseconds (``unix_micros``), not
    truncated-to-second casts, so sub-second timestamps sessionize
    identically to a SQL engine's ``epoch_us`` arithmetic.

    ``session_idx`` is 1-based per key in time order. NULL-timestamp
    rows are dropped (they cannot be placed in time; Spark sorts NULLs
    FIRST while ANSI engines default NULLS LAST, so keeping them would
    shift every real session index relative to the SQL oracle — the
    streaming sessionizer drops them the same way)."""
    df = df.filter(F.col(ts_col).isNotNull())

    def _us(c: Column) -> Column:
        # unix_micros rejects TIMESTAMP_NTZ (the parquet default); the
        # session pins UTC, so the cast is value-preserving
        return F.unix_micros(c.cast("timestamp"))

    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev.isNull()
        | ((_us(F.col(ts_col)) - _us(prev)) > gap_sec * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        session_col,
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    strict: bool = False,
) -> DataFrame:
    """As-of join: each left row picks the latest right row for the same
    ``on`` key with ``right_ts <= left_ts`` (``<`` when ``strict``).
    Unmatched left rows keep NULL right columns (LEFT ASOF JOIN).

    Union-window plan: tag both sides, sort each key by
    ``(ts, tag, right_ts)`` and carry the last-seen right payload
    forward with ``last(ignorenulls)``. At equal timestamps the tag
    decides visibility: non-strict sorts right rows before left rows
    (a right row AT left_ts matches), strict sorts them after.

    Exactly one shuffle + sort; output is exactly ``left``'s rows. Ties
    among right rows sharing (key, ts) resolve to an arbitrary winner —
    pre-dedupe with ``latest_per_key`` if the right side can collide.
    """
    if right_cols is None:  # explicit [] means "timestamp only"
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    # the matched timestamp is ALWAYS emitted separately as
    # right_ts+suffix — including right_ts here again would produce two
    # identically-named output columns (ambiguous reference downstream)
    right_cols = [c for c in right_cols if c != right_ts]
    out_names = {c: c + suffix if c in left.columns else c for c in right_cols}
    if strict:
        left_tag, right_tag = 0, 1
    else:
        left_tag, right_tag = 1, 0
    payload = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c) for c in right_cols],
    )
    # a NULL right_ts can never satisfy right_ts <= left_ts (ASOF
    # semantics, and the SQL oracle's) — but NULLs sort FIRST in the
    # ascending window order, where last(ignorenulls) would carry them
    # into every left row; drop them before the union
    # NULL join keys never match in SQL ASOF equality — a NULL-keyed
    # right row must not donate its payload to NULL-keyed left rows
    # (Window.partitionBy groups NULLs together, SQL equality does not)
    r = right.filter(
        F.col(right_ts).isNotNull() & F.col(on).isNotNull()
    ).select(
        F.col(on),
        F.col(right_ts).cast("timestamp").alias("__ts"),
        F.lit(right_tag).alias("__tag"),
        payload.alias("__rv"),
    )
    l = left.select(
        "*",
        F.col(left_ts).cast("timestamp").alias("__ts"),
        F.lit(left_tag).alias("__tag"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts"), F.col("__tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("__last", F.last("__rv", ignorenulls=True).over(w))
    out = carried.filter(F.col("__tag") == F.lit(left_tag)).select(
        *[F.col(c) for c in left.columns],
        *[
            F.col("__last")[c].alias(out_names[c])
            for c in right_cols
        ],
        F.col("__last")["__rts"].alias(right_ts + suffix),
    )
    return out
