"""Unit tests: normalization coercions (F1-F5) + dedup + config.

Coercion truth tables mirror /root/reference/typeutils/reformat.go:44-106.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from gear5_spark.config import PipelineConfig, config_spec
from gear5_spark.operators.dedup import latest_per_key
from gear5_spark.operators.normalize import (
    coerce_bool,
    coerce_double,
    coerce_long,
    coerce_timestamp,
)


def _vals(spark, values, fn):
    df = spark.createDataFrame([(v,) for v in values], ["v"])
    return [r[0] for r in df.select(fn(F.col("v")).alias("o")).collect()]


def test_coerce_bool_truth_table(spark):
    # reformat.go:48-72 truth table
    got = _vals(
        spark,
        ["1", "t", "TRUE", " yes ", "on", "0", "F", "false", "No", "off", "x", None],
        coerce_bool,
    )
    assert got == [
        True, True, True, True, True,
        False, False, False, False, False,
        None, None,
    ]


def test_coerce_long(spark):
    got = _vals(spark, ["42", "3.9", "-7", "abc", None], coerce_long)
    assert got == [42, 3, -7, None, None]  # floats truncate (reformat.go:190)


def test_coerce_double(spark):
    got = _vals(spark, ["1.5", "-2", "1e3", "nope", None], coerce_double)
    assert got == [1.5, -2.0, 1000.0, None, None]


def test_coerce_timestamp_layouts(spark):
    got = _vals(
        spark,
        [
            "2024-03-01T12:30:45",
            "2024-03-01 12:30:45",
            "2024/03/01 12:30:45",
            "2024-03-01",
            "03/15/2024",
            "1700000000",  # unix seconds fallback
            "not a date",
        ],
        coerce_timestamp,
    )
    assert got[0] == dt.datetime(2024, 3, 1, 12, 30, 45)
    assert got[1] == dt.datetime(2024, 3, 1, 12, 30, 45)
    assert got[2] == dt.datetime(2024, 3, 1, 12, 30, 45)
    assert got[3] == dt.datetime(2024, 3, 1)
    assert got[4] == dt.datetime(2024, 3, 15)
    assert got[5] == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert got[6] is None


def test_latest_per_key_plain_vs_salted(spark):
    rows = []
    for lsn in range(200):
        key = lsn % 7
        rows.append((lsn, lsn % 3, key, f"v{lsn}"))
    df = spark.createDataFrame(rows, ["lsn", "txn_seq", "k", "val"])
    plain = {
        (r["k"], r["val"])
        for r in latest_per_key(df, ["k"]).collect()
    }
    salted = {
        (r["k"], r["val"])
        for r in latest_per_key(df, ["k"], salt_buckets=5).collect()
    }
    assert plain == salted
    assert len(plain) == 7
    # latest lsn per key wins
    assert ("0", "v196") not in plain  # keys are ints; sanity on shape
    want = {(k, f"v{max(l for l in range(200) if l % 7 == k)}") for k in range(7)}
    assert plain == want


def test_config_validate_and_spec(tmp_path):
    cfg = PipelineConfig(
        changelog_dir=str(tmp_path),
        table_dir=str(tmp_path / "t"),
        checkpoint_dir=str(tmp_path / "c"),
    )
    assert cfg.validate() == []
    bad = PipelineConfig(
        changelog_dir="/nonexistent",
        table_dir="t",
        checkpoint_dir="c",
        mode="nope",
        delete_mode="purge",
        salt_buckets=0,
        exclude_columns=["conv_id"],
    )
    problems = bad.validate()
    assert len(problems) == 5
    spec = config_spec()
    assert spec["required"] == ["changelog_dir", "table_dir", "checkpoint_dir"]
    assert spec["properties"]["mode"]["default"] == "stream"
    # round-trip + unknown-key rejection
    import pytest

    assert PipelineConfig.from_dict(cfg.to_dict()) == cfg
    with pytest.raises(ValueError, match="unknown config keys"):
        PipelineConfig.from_dict({**cfg.to_dict(), "bogus": 1})


def test_coerce_long_out_of_range_degrades_to_null(spark):
    # out-of-int64 numerics degrade to NULL, never saturate or fail
    got = _vals(
        spark,
        ["3", "3.9", "1e30", "-1e30", "9223372036854775807", "junk", None],
        coerce_long,
    )
    assert got == [3, 3, None, None, 9223372036854775807, None, None]


def test_coerce_long_uint64_range_degrades_to_null(spark):
    # values in [2**63, 2**64) overflow the integer cast and round to
    # 2**63 as doubles: the double fallback must reject them, not
    # saturate to Long.MAX_VALUE; in-range values survive EXACTLY (no
    # float rounding of 2**63-1)
    got = _vals(
        spark,
        ["9223372036854775808", "18446744073709551615",
         "9223372036854775807", "7"],
        coerce_long,
    )
    assert got == [None, None, 9223372036854775807, 7]


def test_epoch_seconds_sql_clamps_corrupt_magnitudes(spark):
    """The sql epoch_seconds path must degrade millis-for-seconds and
    absurd magnitudes to NULL (the reference's [0, 9999] year clamp),
    and stamp_cdc_columns must survive a nanosecond-scale ts_ms instead
    of throwing 'long overflow'."""
    from gear5_spark.operators.normalize import (
        _coerce_sql,
        stamp_cdc_columns,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("1700000000",), ("1700000000000",), ("1e30",), ("junk",)],
        "v string",
    )
    out = df.select(_coerce_sql(F.col("v"), "epoch_seconds").alias("ts"))
    vals = [r["ts"] for r in out.collect()]
    assert vals[0] is not None and vals[0].year == 2023
    assert vals[1] is None  # millis sent as seconds -> year 55830 -> NULL
    assert vals[2] is None and vals[3] is None

    ev = spark.createDataFrame(
        [(1, 0, "insert", 1_700_000_000_000), (2, 0, "insert", int(1.7e18))],
        "lsn long, txn_seq long, op string, ts_ms long",
    )
    rows = stamp_cdc_columns(ev).select("_cdc_updated_at").collect()
    assert rows[0][0] is not None
    assert rows[1][0] is None  # corrupt magnitude degrades, no crash
