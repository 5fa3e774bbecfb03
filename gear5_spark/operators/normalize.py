"""Change-event normalization — the "T" of ELT, vectorized.

Mirrors the reference's per-value ``ReformatValue`` coercions
(``/root/reference/typeutils/reformat.go:44-106``: bool from "1"/"t"/"yes",
numeric widening, 11-layout timestamp parse ``reformat.go:16-28`` with year
clamp ``reformat.go:164-170``) and the ``_cdc_*`` metadata stamping
(``/root/reference/drivers/postgres/internal/cdc.go:70-78``,
``pkg/jdbc/jdbc.go:11-19``) — but columnar, never per-row Go-map/Python-dict.

One physical path: ``from_json`` + built-in casts — whole-stage codegen,
zero Python in the hot loop. Messy values (mixed timestamp layouts,
stringly-typed bools, numeric strings, junk) go through the same
JVM-side coercers and degrade to NULL per value.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.table import CDC_DELETED_AT, CDC_LSN, CDC_UPDATED_AT
from gear5_spark.operators.infer import SCALAR_TOKENS


@dataclass(frozen=True)
class PayloadField:
    """One typed payload column: ``source`` is the raw JSON key (used to
    extract), ``col`` the sanitized output column name (operators/names),
    ``token`` the registry type token (operators/infer)."""

    col: str
    token: str
    source: str

# the reference tries 11 layouts (typeutils/reformat.go:16-28); these are the
# Spark-pattern equivalents of the common ones (RFC3339, SQL, date-only, ...)
TIMESTAMP_PATTERNS = [
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "MM/dd/yyyy",
    "dd MMM yyyy HH:mm:ss",
]

_TRUE_SET = ["1", "t", "true", "y", "yes", "on"]  # reformat.go:48-72
_FALSE_SET = ["0", "f", "false", "n", "no", "off"]


def coerce_bool(col: Column) -> Column:
    """F1: boolean from string/int forms (typeutils/reformat.go:48-72)."""
    s = F.lower(F.trim(col.cast("string")))
    return (
        F.when(s.isin(_TRUE_SET), F.lit(True))
        .when(s.isin(_FALSE_SET), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def coerce_long(col: Column) -> Column:
    """F2: int64 from any width / numeric string / float truncation;
    try_cast throughout so malformed input degrades to NULL instead of
    failing the task under ANSI mode (reference errors per value,
    reformat.go:190-219 — NULL is our columnar equivalent). The double
    fallback is range-guarded to [-2^63, 2^63): a double→long cast
    saturates to ``Long.MAX_VALUE`` past it instead of yielding NULL."""
    d = col.cast("string").try_cast("double")
    return F.coalesce(
        col.try_cast("long"),
        F.when((d >= -(2.0**63)) & (d < 2.0**63), d.try_cast("long")),
    )


def coerce_double(col: Column) -> Column:
    """F3: float64 incl. string parse (reformat.go:221-256)."""
    return col.cast("string").try_cast("double")


# epoch-seconds range for years [0, 9999] (reformat.go:164-170)
_EPOCH_S_MIN = -62_135_596_800
_EPOCH_S_MAX = 253_402_300_799


def coerce_timestamp(col: Column) -> Column:
    """F5: multi-layout timestamp parse + unix-seconds ints
    (reformat.go:108-173) + the reference's year clamp [0, 9999]
    (reformat.go:164-170).
    Entirely JVM-side: a coalesce over ``try_to_timestamp`` patterns,
    then a RANGE-GUARDED epoch-seconds fallback — an unguarded
    ``timestamp_seconds`` throws 'long overflow' on large numeric
    strings (e.g. a compact ``yyyyMMddHHmmss`` value) and would fail
    the task instead of degrading to NULL."""
    s = col.cast("string")
    attempts = [F.try_to_timestamp(s, F.lit(p)) for p in TIMESTAMP_PATTERNS]
    n = s.try_cast("long")
    attempts.append(
        F.timestamp_seconds(F.when(n.between(_EPOCH_S_MIN, _EPOCH_S_MAX), n))
    )
    ts = F.coalesce(*attempts)
    return F.when(F.year(ts).between(0, 9999), ts)


def decode_url(col: Column) -> Column:
    """F10: percent-decoding for URL-encoded values (object-store keys,
    hive partition values) — the reference decodes partition values read
    from S3 paths (``drivers/s3/internal/reader/parquet.go:217-223``).
    JVM-side ``url_decode``; try-variant so malformed escapes degrade to
    NULL instead of failing the task."""
    return F.try_url_decode(col.cast("string"))


def stamp_cdc_columns(df: DataFrame) -> DataFrame:
    """Attach the three ``_cdc_*`` metadata columns the reference injects
    into every CDC record (drivers/postgres/internal/cdc.go:70-78)."""
    # timestamp_millis multiplies by 1000 via multiplyExact: a corrupt
    # ts_ms (e.g. nanoseconds) would throw 'long overflow' and kill the
    # batch — guard to the representable range, degrade to NULL
    _MS_MAX = 9_223_372_036_854_775  # Long.MaxValue // 1000
    updated = F.timestamp_millis(
        F.when(F.col("ts_ms").between(-_MS_MAX, _MS_MAX), F.col("ts_ms"))
    )
    return (
        df.withColumn(CDC_LSN, F.col("lsn").cast("string"))
        .withColumn(CDC_UPDATED_AT, updated)
        .withColumn(
            CDC_DELETED_AT,
            F.when(F.col("op") == "delete", updated).otherwise(
                F.lit(None).cast("timestamp")
            ),
        )
    )


def _to_specs(payload_schema) -> list[PayloadField]:
    """Accept either a list of PayloadField or a plain StructType (legacy
    catalog-style schema: field name == JSON key, Spark type -> token)."""
    if not isinstance(payload_schema, T.StructType):
        return list(payload_schema)
    specs = []
    for f in payload_schema.fields:
        dt = f.dataType
        if isinstance(dt, T.BooleanType):
            token = "boolean"
        elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            token = "long"
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            token = "double"
        elif isinstance(dt, T.StringType):
            token = "string"
        elif isinstance(dt, T.TimestampType):
            token = "timestamp_iso"
        else:
            token = dt.simpleString()
        specs.append(PayloadField(col=f.name, token=token, source=f.name))
    return specs


def _parse_type(token: str) -> T.DataType:
    """from_json field type for a token: scalars parse as STRING (the
    JSON token text survives — "yes", "3.9", true all arrive as text for
    the columnar coercers, reference ReformatValue semantics); complex
    DDL tokens parse typed."""
    if token in SCALAR_TOKENS:
        return T.StringType()
    return T._parse_datatype_string(token)


def _coerce_sql(raw: Column, token: str) -> Column:
    if token == "boolean":
        return coerce_bool(raw)
    if token == "long":
        return coerce_long(raw)
    if token == "double":
        return coerce_double(raw)
    if token == "timestamp_iso":
        return coerce_timestamp(raw)
    if token == "epoch_seconds":
        # same range guard + year clamp as coerce_timestamp: an
        # unguarded timestamp_seconds saturates (or throws) on corrupt
        # magnitudes (millis-for-seconds, 1e30) instead of degrading to
        # NULL like the reference's [0,9999] clamp
        n = coerce_double(raw)
        ts = F.timestamp_seconds(
            F.when(n.between(_EPOCH_S_MIN, _EPOCH_S_MAX), n)
        )
        return F.when(F.year(ts).between(0, 9999), ts)
    return raw  # string / already-typed complex


def normalize_changes(
    df: DataFrame,
    payload_schema,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Raw change feed -> typed change DataFrame.

    ``payload_schema``: list[PayloadField] (registry-driven) or a legacy
    StructType. Input (FIXTURES.md §2): lsn, txn_id, txn_seq, op, ts_ms,
    conv_id, turn_idx, after_json. Output: keys + ordered metadata + one
    typed column per payload field + ``_cdc_*`` columns. Delete events
    carry null payload (wal2json deletes carry only oldkeys,
    /root/reference/pkg/waljs/types.go:59-63).

    ``carry_cols``: physical-layout columns (e.g. the placement slot) to
    pass through untouched when present — keeping them in the plan
    preserves the input's partitioning attribute so a downstream
    co-partitioned merge join needs no new exchange.
    """
    specs = _to_specs(payload_schema)
    carried = [c for c in carry_cols if c in df.columns]
    parse_schema = T.StructType(
        [T.StructField(s.source, _parse_type(s.token), True) for s in specs]
    )
    parsed = df.withColumn("_after", F.from_json(F.col("after_json"), parse_schema))
    out = parsed.select(
        *carried,
        "lsn",
        "txn_id",
        "txn_seq",
        "op",
        "ts_ms",
        "conv_id",
        "turn_idx",
        *[
            _coerce_sql(F.col("_after").getField(s.source), s.token).alias(s.col)
            for s in specs
        ],
    )
    return stamp_cdc_columns(out)


# -------------------------------------------------------- widening detection


def detect_widening(
    df: DataFrame, specs, include_string: bool = False
) -> dict[str, str]:
    """Per-batch type-flip probe (ST7): find registered scalar keys
    whose CURRENT batch carries values the registered token would
    coerce LOSSILY — ``coerce_long`` truncating ``2.5`` — and return
    ``{column: widened token}`` (lattice-up only).

    The reference observes every record's type and widens the record
    schema via the LCA walk (``typeutils/fields.go:182-205``); a
    columnar engine cannot retype mid-batch, so the applier runs this
    ONE constant-width aggregate over the persisted deduped winners
    BEFORE the parse, re-registers, and re-plans the batch with the
    widened token — the flip batch itself lands lossless, and the lake
    widens its schema in place (metadata-only; lake/table.py
    ``read_file_entries``). Returns ``{}`` with NO Spark job when no
    registered key is widenable: ``string`` is the lattice top, and
    timestamp tokens' parse failures degrade to NULL by the documented
    F5 contract (a flip away from timestamps is a broken feed, not a
    widening).

    By default only NUMERIC targets fire (boolean→long/double,
    long→double): a numeric value a narrower token can't hold is
    unambiguous evidence of a type flip, while an unparseable string
    is indistinguishable from feed junk — and the documented
    configured-type contract (F1-F3, reference ReformatValue,
    ``reformat.go:44-256``) NULLs junk per value rather than degrading
    the whole column. ``include_string=True`` (applier
    ``auto_widen="full"``) opts a genuinely text-bearing feed into the
    full LCA behavior where any unparseable value widens the column to
    string. Boolean-word tokens on a numeric key stay non-lossy in
    both modes (the coercers deliberately NULL them), so a stray
    ``"yes"`` never flips a column."""
    widenable = ("boolean", "long", "double") if include_string else (
        "boolean", "long",
    )
    watched = [s for s in specs if s.token in widenable]
    if not watched:
        return {}
    parse_schema = T.StructType(
        [T.StructField(s.source, T.StringType(), True) for s in watched]
    )
    a = F.from_json(F.col("after_json"), parse_schema)
    aggs = []
    kinds: list[tuple[str, str]] = []
    for s in watched:
        raw = a.getField(s.source)
        d = raw.try_cast("double")
        lng = raw.try_cast("long")
        is_bool_word = F.lower(F.trim(raw)).isin(*_TRUE_SET, *_FALSE_SET)
        to_string = raw.isNotNull() & d.isNull() & ~is_bool_word
        # a value only double can hold: fractional ("2.5"), or beyond
        # long range ("9e99") — huge integral longs are NOT flagged
        # (their decimal string and the long→double cast round to the
        # same double, so the comparison stays quiet)
        to_double = d.isNotNull() & (
            lng.isNull() | (lng.cast("double") != d)
        )
        if s.token == "boolean":
            checks = [
                ("long", ~is_bool_word & lng.isNotNull()),
                ("double", ~is_bool_word & to_double),
            ]
        elif s.token == "long":
            checks = [("double", to_double)]
        else:  # double
            checks = []
        if include_string:
            checks.append(("string", to_string))
        for kind, cond in checks:
            aggs.append(
                F.max(cond.cast("int")).alias(f"_w{len(aggs)}")
            )
            kinds.append((s.col, kind))
    row = df.agg(*aggs).first()
    rank = {"long": 1, "double": 2, "string": 3}
    out: dict[str, str] = {}
    for (col, kind), hit in zip(kinds, row):
        if hit:
            if col not in out or rank[kind] > rank[out[col]]:
                out[col] = kind
    return out
