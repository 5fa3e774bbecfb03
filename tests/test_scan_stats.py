"""Manifest-stats file skipping: per-file min/max recorded at write,
reads prune files without opening a single footer."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
        T.StructField("_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_cdc_deleted_at", T.TimestampType(), True),
    ]
)

_BATCH_SCHEMA = T.StructType(
    list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _batch(spark, rows):
    # rows: (k, v, ts, lsn)
    return spark.createDataFrame(
        [(k, v, ts, str(lsn), None, None, "insert") for (k, v, ts, lsn) in rows],
        _BATCH_SCHEMA,
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=SCHEMA, key_columns=["k"],
        n_buckets=4,
    )
    # commit 1: January data across all buckets; commit 2: ONE June key —
    # CoW merge rewrites only that key's bucket, so the other buckets'
    # files keep their tight January-only ts range (the skippable case)
    merge_into(
        t,
        _batch(
            spark,
            [(f"jan-{i}", i, _ts("2024-01-15 12:00:00"), i) for i in range(8)],
        ),
    )
    merge_into(
        t,
        _batch(spark, [("jun-0", 100, _ts("2024-06-15 12:00:00"), 100)]),
    )
    return t


def test_stats_recorded_in_manifest(table):
    snap = table.snapshot()
    assert snap.files, "expected data files"
    for f in snap.files:
        assert "stats" in f, f
        assert "ts" in f["stats"] and "k" in f["stats"]
        lo, hi = f["stats"]["ts"]
        assert isinstance(lo, int) and lo <= hi  # epoch micros


def test_plan_scan_skips_out_of_range_files(table):
    keep, skipped = table.plan_scan([("ts", ">", _ts("2024-03-01 00:00:00"))])
    assert skipped > 0
    assert keep, "June files must survive"
    # every skipped file is a January file: none of the kept files may
    # have a max ts below the cutoff
    cutoff = int(_ts("2024-03-01 00:00:00").timestamp() * 1_000_000)
    for f in keep:
        assert f["stats"]["ts"][1] > cutoff


def test_scan_matches_unpruned_filter(table):
    cutoff = _ts("2024-03-01 00:00:00")
    got = sorted(
        (r["k"], r["v"]) for r in table.scan([("ts", ">", cutoff)]).collect()
    )
    want = sorted(
        (r["k"], r["v"])
        for r in table.read().filter(F.col("ts") > F.lit(cutoff)).collect()
    )
    assert got == want and got == [("jun-0", 100)]


def test_scan_equality_on_key_column(table):
    got = table.scan([("k", "=", "jan-3")]).collect()
    assert [r["v"] for r in got] == [3]
    # string stats prune too: only files whose [min,max] covers "jan-3"
    keep, skipped = table.plan_scan([("k", "=", "zzz")])
    assert not keep and skipped == len(table.snapshot().files)


def test_scan_rejects_unknown_op(table):
    with pytest.raises(ValueError):
        table.plan_scan([("ts", "!=", _ts("2024-03-01 00:00:00"))])


def test_unstatted_column_never_prunes(table):
    # _cdc_lsn carries no stats (a string, not a bucket column) -> full read
    keep, skipped = table.plan_scan([("_cdc_lsn", ">", "zzz")])
    assert skipped == 0


def test_numeric_columns_prune(table):
    # every integer and floating-point column is statted by default
    keep, skipped = table.plan_scan([("v", ">", 50)])
    assert skipped > 0 and keep
    assert all(f["stats"]["v"][1] > 50 for f in keep)


def test_numeric_payload_column_gets_stats(spark, tmp_path):
    from gear5_spark.pipeline.runner import bootstrap_table, make_applier

    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "c"), app_id="stats")
    batch = spark.createDataFrame(
        [
            (i, i, 0, "insert", 1000, f"c-{i}", 0,
             f'{{"role":"user","text":"x","ts":1,"tokens":{10 * i}}}')
            for i in range(1, 9)
        ],
        "lsn long, txn_id long, txn_seq int, op string, ts_ms long, "
        "conv_id string, turn_idx int, after_json string",
    )
    applier(batch, 0)
    assert table.schema["tokens"].dataType == T.LongType()
    files = table.snapshot().files
    assert files and all("tokens" in f["stats"] for f in files)
    assert min(f["stats"]["tokens"][0] for f in files) == 10
    assert max(f["stats"]["tokens"][1] for f in files) == 80


def test_mor_snapshot_prunes_at_bucket_granularity(spark, tmp_path):
    from gen_fixtures import generate_changelog
    from gear5_spark.pipeline.runner import bootstrap_table, make_applier
    from gear5_spark.sources.changelog import read_changelog

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2000, n_convs=30, chunk_rows=1000)
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(
        table, str(tmp_path / "ckpt"), sink_mode="mor", compact_every=0
    )
    applier(read_changelog(spark, log, max_lsn=999), 0)
    applier(read_changelog(spark, log, min_lsn=999), 1)
    snap = table.snapshot()
    assert any(f.get("kind") == "delta" for f in snap.files)

    # bucket granularity: for every kept bucket, ALL of its files are kept
    conv = table.read().select("conv_id").first()["conv_id"]
    keep, _ = table.plan_scan([("conv_id", "=", conv)])
    kept_buckets = {f["bucket"] for f in keep}
    all_in_kept = [f for f in snap.files if f["bucket"] in kept_buckets]
    assert sorted(f["path"] for f in keep) == sorted(
        f["path"] for f in all_in_kept
    )

    # and the filtered read is exact
    got = sorted(
        r["turn_idx"]
        for r in table.scan([("conv_id", "=", conv)]).collect()
    )
    want = sorted(
        r["turn_idx"]
        for r in table.read().filter(F.col("conv_id") == conv).collect()
    )
    assert got == want and got
