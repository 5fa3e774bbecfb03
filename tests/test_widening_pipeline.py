"""Mid-stream payload type flips through the full pipeline (ST7
beyond-additive; VERDICT r4 item 7).

A registered payload key whose VALUES widen mid-stream (long→double,
boolean→long) must not stall the registry or coerce lossily: the
applier's per-batch probe (``operators/normalize.detect_widening``)
re-registers the widened token BEFORE the flip batch is parsed, the
merge widens the lake schema in place (metadata-only — see
tests/test_widening.py for the lake-layer mechanics), and both eras
read back exactly. Reference parity: the per-record LCA type walk at
``typeutils/fields.go:182-205``.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from gear5_spark.operators.normalize import PayloadField, detect_widening
from gear5_spark.pipeline.runner import bootstrap_table, make_applier

RAW = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("txn_id", T.LongType(), True),
        T.StructField("txn_seq", T.IntegerType(), True),
        T.StructField("op", T.StringType(), False),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("after_json", T.StringType(), True),
    ]
)


def _batch(spark, rows):
    # rows: (lsn, conv_id, turn_idx, payload dict)
    return spark.createDataFrame(
        [
            (lsn, lsn, 0, "insert", 1000 + lsn, conv, turn, json.dumps(p))
            for lsn, conv, turn, p in rows
        ],
        RAW,
    )


def _mk(spark, tmp_path, **kwargs):
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "ckpt"), **kwargs)
    return table, applier


def _vals(table, col="n"):
    return {
        r["conv_id"]: r[col] for r in table.read().select("conv_id", col).collect()
    }


def test_long_to_double_flip_lands_lossless(spark, tmp_path):
    table, applier = _mk(spark, tmp_path)
    applier(_batch(spark, [(1, "a", 0, {"n": 3}), (2, "b", 0, {"n": 4})]), 0)
    assert table.schema["n"].dataType == T.LongType()

    # the flip batch itself must land EXACTLY (2.5, not truncated 2) —
    # detection runs before the parse, so no era is ever lossy
    applier(_batch(spark, [(3, "c", 0, {"n": 2.5})]), 1)
    assert table.schema["n"].dataType == T.DoubleType()
    assert _vals(table) == {"a": 3.0, "b": 4.0, "c": 2.5}

    # the registry re-typed (no stall): next long batch absorbs up
    reg = json.loads(open(applier.registry_path).read())
    assert reg["fields"]["n"]["type"] == "double"
    applier(_batch(spark, [(4, "d", 0, {"n": 7})]), 2)
    assert _vals(table)["d"] == 7.0


def test_default_mode_nulls_junk_keeps_numeric_type(spark, tmp_path):
    """Widening is numeric-only: junk text on a long key stays the
    documented F2 NULL and the column keeps its type — the messy-feed
    contract (tests/test_messy_payloads.py) is unaffected by widening."""
    table, applier = _mk(spark, tmp_path)
    applier(_batch(spark, [(1, "a", 0, {"n": 3})]), 0)
    applier(_batch(spark, [(2, "b", 0, {"n": "junk"})]), 1)
    assert table.schema["n"].dataType == T.LongType()
    assert _vals(table) == {"a": 3, "b": None}


def test_flip_through_mor_sink(spark, tmp_path):
    table, applier = _mk(spark, tmp_path, sink_mode="mor", compact_every=2)
    applier(_batch(spark, [(1, "a", 0, {"n": 1}), (2, "b", 0, {"n": 9})]), 0)
    applier(_batch(spark, [(3, "c", 0, {"n": 0.25})]), 1)  # triggers compact
    assert table.schema["n"].dataType == T.DoubleType()
    assert _vals(table) == {"a": 1.0, "b": 9.0, "c": 0.25}


def test_detect_widening_classifier(spark):
    """Unit: the probe mirrors the coercers exactly."""
    df = spark.createDataFrame(
        [
            ('{"a": 1, "b": 1.5, "c": true, "d": 2}',),
            ('{"a": 9007199254740993, "b": "x", "c": 3, "d": "yes"}',),
        ],
        "after_json string",
    )
    specs = [
        PayloadField(col="a", token="long", source="a"),
        PayloadField(col="b", token="long", source="b"),
        PayloadField(col="c", token="boolean", source="c"),
        PayloadField(col="d", token="long", source="d"),
    ]
    got = detect_widening(df, specs)
    # a: huge but integral longs stay long (decimal string and the
    # long→double cast round identically — no false positive)
    assert "a" not in got
    assert got["b"] == "double"  # 1.5 is numeric evidence; "x" is junk
    assert got["c"] == "long"  # bool key observed integer 3
    # d: bool-words on a numeric key are NOT lossy (coerce_long NULLs
    # them by the documented F2 contract) — no widen
    assert "d" not in got


def test_detect_widening_no_watched_keys_no_job(spark):
    df = spark.createDataFrame([('{"s": "x"}',)], "after_json string")
    specs = [PayloadField(col="s", token="string", source="s")]
    assert detect_widening(df, specs) == {}


def test_widen_batch_replay_is_exactly_once(spark, tmp_path):
    """Crash-window contract across a widen: re-delivering the flip
    batch (same batch_id, FRESH applier instance so the registry
    reloads from disk) is a txn-ledger no-op — no duplicate rows, no
    double-widen, schema and values unchanged."""
    table, applier = _mk(spark, tmp_path)
    applier(_batch(spark, [(1, "a", 0, {"n": 3})]), 0)
    flip = _batch(spark, [(2, "b", 0, {"n": 2.5})])
    applier(flip, 1)
    v1 = table.snapshot().version
    assert table.schema["n"].dataType == T.DoubleType()

    from gear5_spark.pipeline.runner import make_applier

    fresh = make_applier(table, str(tmp_path / "ckpt"))
    assert fresh.load_registry()["n"]["type"] == "double"  # durable
    fresh(flip, 1)  # re-delivery after a simulated crash
    assert table.snapshot().version == v1
    assert _vals(table) == {"a": 3.0, "b": 2.5}
