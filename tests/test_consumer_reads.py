"""Downstream-consumer reads: a timestamp-incremental read is a
stats-pruned ``scan`` on ``_cdc_updated_at``, and a Spark SQL view is a
``read`` registered as a temp view."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
        T.StructField("_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_cdc_deleted_at", T.TimestampType(), True),
    ]
)

_BATCH_SCHEMA = T.StructType(
    list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]
)


T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
CUT = dt.datetime(2024, 6, 1)
T1 = dt.datetime(2024, 6, 15, 12, 0, 0)


def _apply(spark, table, rows, when):
    # _cdc_updated_at is EVENT time (stamped from the feed's ts_ms by
    # stamp_cdc_columns), so the fixture sets it explicitly
    df = spark.createDataFrame(
        [(k, v, str(lsn), when, None, "update") for (k, v, lsn) in rows],
        _BATCH_SCHEMA,
    )
    merge_into(table, df)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=SCHEMA, key_columns=["k"],
        n_buckets=4,
    )
    _apply(spark, t, [(f"k{i}", i, i) for i in range(8)], T0)
    return t


def test_read_updated_since_returns_only_recent_rows(spark, table):
    _apply(spark, table, [("k0", 100, 100)], T1)  # one key after the cut
    got = table.scan([("_cdc_updated_at", ">=", CUT)]).collect()
    assert [(r["k"], r["v"]) for r in got] == [("k0", 100)]


def test_read_updated_since_prunes_files(spark, table):
    _apply(spark, table, [("k0", 100, 100)], T1)
    keep, skipped = table.plan_scan([("_cdc_updated_at", ">=", CUT)])
    # only the rewritten bucket's file survives pruning... but the CoW
    # rewrite folds old rows of that bucket in, so min(_cdc_updated_at)
    # of the new file may predate the cut. The OTHER buckets' files,
    # untouched since the first commit, must all be skipped.
    assert skipped >= 1
    assert {f["bucket"] for f in keep} != {f["bucket"] for f in table.snapshot().files}


def test_read_updated_since_far_future_is_empty(spark, table):
    got = table.scan([("_cdc_updated_at", ">=", dt.datetime(2030, 1, 1))])
    assert got.count() == 0


def test_register_view_enables_spark_sql(spark, table):
    table.read().createOrReplaceTempView("consumer_t")
    got = spark.sql(
        "SELECT k, v FROM consumer_t WHERE v >= 6 ORDER BY k"
    ).collect()
    assert [(r["k"], r["v"]) for r in got] == [("k6", 6), ("k7", 7)]


def test_register_view_pinned_snapshot(spark, table):
    pinned = table.snapshot()
    _apply(spark, table, [("k0", 999, 200)], T1)
    table.read(snapshot=pinned).createOrReplaceTempView("pinned_t")
    got = {r["k"]: r["v"] for r in spark.sql("SELECT * FROM pinned_t").collect()}
    assert got["k0"] == 0  # pre-update state
