"""Lake table unit tests: atomic commits, time travel, bucket pruning,
concurrent-commit rejection, soft deletes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.merge import active, merge_into
from gear5_spark.lake.table import (
    BUCKET_COL,
    ConcurrentCommitError,
    LakeTable,
    Snapshot,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
        T.StructField("_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_cdc_deleted_at", T.TimestampType(), True),
    ]
)


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), schema=SCHEMA, key_columns=["k"], n_buckets=4
    )


_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
        T.StructField("_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_cdc_deleted_at", T.TimestampType(), True),
        T.StructField("op", T.StringType(), False),
    ]
)


def _batch(spark, rows):
    # rows: (k, v, lsn, op)
    return spark.createDataFrame(
        [(k, v, str(lsn), None, None, op) for (k, v, lsn, op) in rows],
        _BATCH_SCHEMA,
    )


def test_time_travel_and_history(spark, table):
    merge_into(table, _batch(spark, [("a", 1, 1, "insert")]))
    merge_into(table, _batch(spark, [("a", 2, 2, "update")]))
    assert table.read().collect()[0]["v"] == 2
    # read the older snapshot
    old = table.read(snapshot=table.snapshot(1))
    assert old.collect()[0]["v"] == 1
    assert [s.version for s in table.history()] == [0, 1, 2]


def test_concurrent_commit_rejected(spark, table):
    snap = table.snapshot()
    table.commit(files=snap.files)  # v1
    # a stale writer that also read v0 and tries to publish v1
    stale = Snapshot(
        version=1,
        snapshot_id="stale",
        parent_version=0,
        schema=snap.schema,
        properties=snap.properties,
        files=snap.files,
        txn={},
        manifest_list=snap.manifest_list,
    )
    with pytest.raises(ConcurrentCommitError):
        table._publish(stale)


def test_txn_ledger_rejects_replayed_batch(spark, table):
    merge_into(
        table, _batch(spark, [("a", 1, 1, "insert")]),
        txn_app_id="app", txn_batch_id=5,
    )
    with pytest.raises(ConcurrentCommitError):
        table.commit(files=table.snapshot().files, txn_app_id="app", txn_batch_id=5)
    assert table.last_committed_batch("app") == 5
    assert table.last_committed_batch("other") is None


def test_bucket_pruned_read(spark, table):
    rows = [(f"k{i}", i, 1, "insert") for i in range(50)]
    merge_into(table, _batch(spark, rows))
    snap = table.snapshot()
    # distribution across buckets exists
    buckets = {f["bucket"] for f in snap.files}
    assert len(buckets) > 1
    b0 = sorted(buckets)[0]
    pruned = table.read(buckets=[b0], with_internal=True)
    got_buckets = {r[BUCKET_COL] for r in pruned.select(BUCKET_COL).distinct().collect()}
    assert got_buckets == {b0}
    # pruned read touches only that bucket's files
    assert pruned.count() < 50


def test_soft_delete_tombstones(spark, tmp_path):
    # the delete policy is the table's property, fixed at create time
    table = LakeTable.create(
        spark, str(tmp_path / "t"), schema=SCHEMA, key_columns=["k"],
        n_buckets=4, extra_properties={"delete_mode": "soft"},
    )
    merge_into(table, _batch(spark, [("a", 1, 1, "insert"), ("b", 2, 1, "insert")]))
    deletes = _batch(spark, [("a", None, 2, "delete")]).withColumn(
        "_cdc_deleted_at", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    merge_into(table, deletes)
    all_rows = table.read()
    assert all_rows.count() == 2  # tombstone kept
    live = active(all_rows)
    assert live.count() == 1
    assert live.first()["k"] == "b"


def test_order_guard_blocks_stale_batch(spark, table):
    merge_into(table, _batch(spark, [("a", 10, 100, "update")]))
    # a late-arriving older batch must not regress the row
    merge_into(table, _batch(spark, [("a", 5, 50, "update")]))
    assert table.read().first()["v"] == 10


def test_vacuum_keeps_live_history(spark, table):
    merge_into(table, _batch(spark, [("a", 1, 1, "insert")]))
    merge_into(table, _batch(spark, [("a", 2, 2, "update")]))
    removed = table.vacuum()
    assert removed == []  # both commits still referenced by history
    assert table.read().count() == 1


def test_point_lookup_prunes_to_one_bucket(spark, table):
    rows = [(f"k{i}", i, 1, "insert") for i in range(40)]
    merge_into(table, _batch(spark, rows))
    hit = table.lookup(k="k7")
    got = hit.collect()
    assert len(got) == 1 and got[0]["v"] == 7
    # the pruned read loads strictly fewer rows than the table holds
    snap = table.snapshot()
    per_bucket = {f["bucket"]: f.get("rows") for f in snap.files}
    assert sum(r for r in per_bucket.values() if r) == 40
    assert table.lookup(k="nope").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires bucket columns"):
        table.lookup(v=7)


def test_add_column_race_preserves_concurrent_commit(spark, table, monkeypatch):
    """A commit landing between add_column's snapshot read and its own
    commit must be rebased in, not silently reverted by the stale file
    list."""
    merge_into(table, _batch(spark, [("a", 1, 1, "insert")]))
    stale = table.snapshot()
    merge_into(table, _batch(spark, [("b", 2, 2, "insert")]))  # concurrent
    real = table.snapshot
    calls = {"n": 0}

    def stale_once(*a, **kw):
        if not a and not kw and calls["n"] == 0:
            calls["n"] += 1
            return stale
        return real(*a, **kw)

    monkeypatch.setattr(table, "snapshot", stale_once)
    table.add_column("extra", "string")
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {"a": 1, "b": 2}  # concurrent row survived
    assert "extra" in table.read().columns


def test_rebucket_race_raises_not_drops(spark, table, monkeypatch):
    """A commit landing during rebucket's O(table) rewrite is NOT in the
    rewritten file set — the rebucket must fail loudly, never publish."""
    merge_into(table, _batch(spark, [("a", 1, 1, "insert")]))
    stale = table.snapshot()
    merge_into(table, _batch(spark, [("b", 2, 2, "insert")]))
    real = table.snapshot
    calls = {"n": 0}

    def stale_once(*a, **kw):
        if not a and not kw and calls["n"] == 0:
            calls["n"] += 1
            return stale
        return real(*a, **kw)

    monkeypatch.setattr(table, "snapshot", stale_once)
    with pytest.raises(ConcurrentCommitError):
        table.rebucket(8)
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {"a": 1, "b": 2}  # nothing lost, nothing published


def test_guarded_merge_without_lsn_column(spark, tmp_path):
    """The LSN guard must degrade to batch-wins (not crash) when the
    schema carries no _cdc_lsn — the documented 'any subset of target
    columns' contract."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "nolsn"), schema=schema, key_columns=["k"],
        n_buckets=2,
    )
    b = spark.createDataFrame(
        [("a", 1, "insert")], "k string, v long, op string"
    )
    merge_into(t, b)
    b2 = spark.createDataFrame(
        [("a", 2, "update")], "k string, v long, op string"
    )
    merge_into(t, b2)
    assert t.read().collect()[0]["v"] == 2


def test_declared_affected_buckets_drift_raises(spark, table):
    """Rows hashing outside the caller-declared bucket set must refuse
    to commit (duplicate keys would be published otherwise)."""
    merge_into(table, _batch(spark, [("a", 1, 1, "insert")]))
    all_buckets = list(range(4))
    # find a key and a declared set that EXCLUDES that key's bucket
    keys = spark.createDataFrame(
        [("a",)] + [("z" * n,) for n in range(2, 40)], "k string"
    )
    bucket = dict(keys.select("k", table.bucket_expr()).collect())
    key = next(k for k in bucket if bucket[k] != bucket["a"])
    wrong = [b for b in all_buckets if b != bucket[key]]
    with pytest.raises(ConcurrentCommitError, match="affected_buckets"):
        merge_into(
            table,
            _batch(spark, [(key, 9, 9, "insert")]),
            affected_buckets=wrong,
        )


def test_lookup_bool_and_null_semantics(spark, tmp_path):
    """Driver-side bucket computation must match Spark's string cast for
    booleans (lowercase) so the point lookup prunes to the RIGHT bucket."""
    schema = T.StructType(
        [
            T.StructField("flag", T.BooleanType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "boolkey"), schema=schema,
        key_columns=["flag"], n_buckets=4,
    )
    b = spark.createDataFrame(
        [(True, 1, "insert"), (False, 2, "insert")],
        "flag boolean, v long, op string",
    )
    merge_into(t, b)
    assert t.lookup(flag=True).collect()[0]["v"] == 1
    assert t.lookup(flag=False).collect()[0]["v"] == 2


def test_lookup_finds_timestamp_and_double_keys(spark, tmp_path):
    """The bucket of a lookup is the table's own bucket expression over
    typed key values: keys whose Python rendering differs from Spark's
    string cast (a fractional second, a double of 1e16 and above) still
    prune to the bucket that holds them."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("x", T.DoubleType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "tskey"), schema=schema,
        key_columns=["ts", "x"], n_buckets=8,
    )
    keys = [
        (dt.datetime(2024, 1, 1, 0, 0, i, 500_000), float(10 ** (15 + i)))
        for i in range(8)
    ]
    merge_into(
        t,
        spark.createDataFrame(
            [(ts, x, i, "insert") for i, (ts, x) in enumerate(keys)],
            "ts timestamp, x double, v long, op string",
        ),
    )
    assert [t.lookup(ts=ts, x=x).count() for ts, x in keys] == [1] * 8


def test_snapshot_without_bucket_columns_is_refused(tmp_path):
    """Every reader of the bucket layout goes through bucket_columns_of;
    a snapshot without the property fails with a clear error instead of
    hashing on a null column name."""
    from gear5_spark.lake.table import bucket_columns_of

    snap = Snapshot(
        version=0, snapshot_id="s", parent_version=None, schema=SCHEMA,
        properties={"key_columns": ["k"], "n_buckets": 4},
        files=[], txn={}, manifest_list=[],
    )
    with pytest.raises(ValueError, match="bucket_columns"):
        bucket_columns_of(snap)
    with pytest.raises(ValueError, match="bucket_columns"):
        LakeTable(None, str(tmp_path / "t")).placement(snap, 8)
    ok = Snapshot(**{**snap.__dict__, "properties": {"bucket_columns": ["k"]}})
    assert bucket_columns_of(ok) == ["k"]


def test_inline_files_snapshot_is_refused(spark, table):
    """Every snapshot carries a manifest list: one that lists its files
    inline (the format before manifest lists) is refused on load with
    an error naming the snapshot file."""
    import json
    import os

    merge_into(table, _batch(spark, [("a", 1, 1, "insert")]))
    snap = table.snapshot()
    path = os.path.join(table.table_dir, "_lake", f"v{snap.version:08d}.json")
    with open(path) as fh:
        d = json.load(fh)
    d.pop("manifest_list")
    d["files"] = snap.files
    with open(path, "w") as fh:
        json.dump(d, fh)
    with pytest.raises(ValueError, match=f"{path}.*manifest_list"):
        table.snapshot()
    with pytest.raises(ValueError, match="inline"):
        table.read()


@pytest.mark.parametrize("case", ["cow_empty", "cow_scope_holds_a_file", "mor"])
def test_null_op_change_is_an_upsert_in_every_plan(spark, tmp_path, case):
    """A change whose ``op`` is NULL upserts its key in every plan: the
    copy-on-write write with no join (empty scope), the copy-on-write
    join, and merge-on-read. tests/oracle.py agrees: only
    ``op == 'delete'`` removes a key there."""
    from gear5_spark.lake.mor import merge_delta

    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=SCHEMA, key_columns=["k"], n_buckets=1
    )
    if case != "cow_empty":
        merge_into(t, _batch(spark, [("x", 0, 1, "insert")]))
    nullable_op = T.StructType(
        _BATCH_SCHEMA.fields[:-1] + [T.StructField("op", T.StringType(), True)]
    )
    change = spark.createDataFrame([("a", 1, "2", None, None, None)], nullable_op)
    (merge_delta if case == "mor" else merge_into)(t, change)
    want = ["a"] if case == "cow_empty" else ["a", "x"]
    assert sorted(r["k"] for r in t.read().collect()) == want


def test_timestamp_bucket_column_refuses_a_non_utc_session(spark, tmp_path):
    """A timestamp is hashed through its string form, which follows the
    session time zone; a table bucketed on one refuses any zone but UTC
    instead of placing the same instant in another bucket."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "ts"), schema=schema, key_columns=["ts"], n_buckets=8
    )
    # 2024-01-01 00:00 .. 07:00 UTC
    instants = spark.range(8).select(
        "id", (F.lit(1704067200) + F.col("id") * 3600).cast("timestamp").alias("ts")
    )
    got = instants.select("id", t.bucket_expr().alias("b")).orderBy("id")
    assert [r["b"] for r in got.collect()] == [2, 4, 0, 3, 6, 4, 1, 0]
    conf = "spark.sql.session.timeZone"
    zone = spark.conf.get(conf)
    spark.conf.set(conf, "America/New_York")
    try:
        with pytest.raises(ValueError, match="'ts'.*America/New_York"):
            t.bucket_expr()
    finally:
        spark.conf.set(conf, zone)
