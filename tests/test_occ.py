"""Optimistic concurrency: losers of the publish race rebase their file
delta onto the winner and retry; true same-file conflicts raise."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import (
    BUCKET_COL,
    CommitRaceLost,
    ConcurrentCommitError,
    LakeTable,
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

_BATCH_SCHEMA = T.StructType(
    list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(k, v, str(lsn), None, None, "insert") for (k, v, lsn) in rows],
        _BATCH_SCHEMA,
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=SCHEMA, key_columns=["k"],
        n_buckets=4,
    )
    merge_into(t, _batch(spark, [(f"k{i}", i, i) for i in range(8)]))
    return t


def _write_entries(spark, table, rows):
    """Data files for an append (no removals), bucketed like the table."""
    df = spark.createDataFrame(
        [(k, v, str(lsn), None, None) for (k, v, lsn) in rows], SCHEMA
    ).withColumn(BUCKET_COL, table.bucket_expr())
    _, entries = table.write_data_files(df)
    return entries


def _race_once(spark, table, competitor_fn):
    """Patch the table so the FIRST publish attempt is beaten by
    ``competitor_fn`` (run through an independent LakeTable handle on
    the same directory), deterministically simulating a lost race."""
    other = LakeTable(spark, table.table_dir)
    orig = table._publish
    state = {"raced": False}

    def racing_publish(snap):
        if not state["raced"]:
            state["raced"] = True
            competitor_fn(other)
        orig(snap)

    table._publish = racing_publish
    return state


def test_lost_race_rebases_and_succeeds(spark, table):
    v0 = table.current_version()
    snap0 = table.snapshot()
    mine = _write_entries(spark, table, [("mine", 100, 100)])
    theirs_entries = _write_entries(spark, table, [("theirs", 200, 200)])

    state = _race_once(
        spark, table,
        lambda other: other.commit(other.snapshot().files + theirs_entries),
    )
    table.commit(snap0.files + mine)

    assert state["raced"]
    assert table.current_version() == v0 + 2  # competitor + rebased commit
    final = {f["path"] for f in table.snapshot().files}
    assert {e["path"] for e in mine} <= final
    assert {e["path"] for e in theirs_entries} <= final
    ks = {r["k"] for r in table.read().collect()}
    assert {"mine", "theirs"} <= ks


def test_lost_race_leaves_no_orphan_manifest(spark, table):
    """The attempt that loses the publish race deletes the manifest it
    wrote: afterwards every m-*.json is named by a retained snapshot."""
    import glob
    import os

    snap0 = table.snapshot()
    mine = _write_entries(spark, table, [("mine", 100, 100)])
    theirs = _write_entries(spark, table, [("theirs", 200, 200)])
    state = _race_once(
        spark, table,
        lambda other: other.commit(other.snapshot().files + theirs),
    )
    table.commit(snap0.files + mine)

    assert state["raced"]
    named = {m["path"] for s in table.history() for m in s.manifest_list}
    on_disk = {
        os.path.relpath(p, table.table_dir)
        for p in glob.glob(os.path.join(table.table_dir, "_lake", "m-*.json"))
    }
    assert on_disk == named


def test_rewrite_manifests_race_keeps_merge_files(spark, table):
    """rewrite_manifests losing the publish race to a merge commit
    rebases through the one commit path: the merge's files stay live,
    and the retried fold still leaves exactly one live manifest."""
    merged = {}

    def competitor(other):
        snap, _ = merge_into(
            other, _batch(spark, [("k0", 100, 100), ("new", 9, 9)])
        )
        merged["paths"] = {f["path"] for f in snap.files}

    state = _race_once(spark, table, competitor)
    snap = table.rewrite_manifests()

    assert state["raced"]
    assert len(snap.manifest_list) == 1
    current = table.snapshot()
    assert current.version == snap.version
    assert {f["path"] for f in current.files} == merged["paths"]
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {**{f"k{i}": i for i in range(8)}, "k0": 100, "new": 9}


def test_same_file_rewrite_conflict_raises(spark, table):
    snap0 = table.snapshot()
    victim = snap0.files[0]
    mine = _write_entries(spark, table, [("mine", 100, 100)])
    my_files = [f for f in snap0.files if f["path"] != victim["path"]] + mine

    def competitor(other):
        # the competitor also drops the victim file (rewrites its bucket)
        osnap = other.snapshot()
        other.commit([f for f in osnap.files if f["path"] != victim["path"]])

    _race_once(spark, table, competitor)
    with pytest.raises(ConcurrentCommitError, match="concurrently rewritten"):
        table.commit(my_files)


def test_retries_exhausted_raises_race_lost(spark, table):
    snap0 = table.snapshot()
    other = LakeTable(spark, table.table_dir)
    orig = table._publish

    def always_beaten(snap):
        other.commit(other.snapshot().files)  # empty-delta competitor
        orig(snap)

    table._publish = always_beaten
    with pytest.raises(CommitRaceLost):
        table.commit(snap0.files)


def test_property_change_race_conflicts(spark, table):
    snap0 = table.snapshot()
    mine = _write_entries(spark, table, [("mine", 100, 100)])

    _race_once(spark, table, lambda other: other.rebucket(8))
    with pytest.raises(ConcurrentCommitError, match="property"):
        table.commit(snap0.files + mine)


def test_txn_replay_not_retried(spark, table):
    merge_into(
        table, _batch(spark, [("z", 1, 50)]), txn_app_id="app",
        txn_batch_id=7,
    )
    # replaying the same batch id must fail IMMEDIATELY (exactly-once),
    # not spin through the rebase loop
    with pytest.raises(ConcurrentCommitError, match="already committed"):
        table.commit(
            files=table.snapshot().files, txn_app_id="app", txn_batch_id=7
        )


def test_compaction_races_delta_append_on_real_paths(spark, tmp_path):
    """Integration: MoR compaction losing the publish race to a live
    delta-append rebases and both land — final state still equals the
    serial oracle over the full log."""
    from gen_fixtures import generate_changelog
    from gear5_spark.lake.mor import compact
    from gear5_spark.pipeline.runner import bootstrap_table, make_applier
    from gear5_spark.sources.changelog import read_changelog
    from tests.oracle import oracle_rows

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=3000, n_convs=40, chunk_rows=1000)
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    writer = LakeTable(spark, table.table_dir)  # appender's own handle
    applier = make_applier(
        writer, str(tmp_path / "ckpt"), sink_mode="mor", compact_every=0
    )
    applier(read_changelog(spark, log, max_lsn=1499), 0)

    batch1 = read_changelog(spark, log, min_lsn=1499)
    state = _race_once(
        spark, table, lambda _other: applier(batch1, 1)
    )
    snap = compact(table)  # loses the race once, rebases, succeeds
    assert state["raced"] and snap is not None
    # batch1's delta (appended mid-compaction) must survive as a delta
    # on top of the compacted base
    assert any(f.get("kind") == "delta" for f in table.snapshot().files)

    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read()
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = [
        (w["conv_id"], w["turn_idx"], w["text"]) for w in oracle_rows(log)
    ]
    assert got == want

    # a second compaction (no race) folds the surviving delta too
    compact(table)
    assert not any(f.get("kind") == "delta" for f in table.snapshot().files)
    assert table.read().count() == len(want)


def test_stale_basis_commit_rebases(spark, table):
    """A commit whose file list was computed against an older snapshot
    (no publish-race version collision!) must rebase onto commits that
    landed meanwhile instead of silently dropping their files."""
    snap0 = table.snapshot()
    mine = _write_entries(spark, table, [("mine", 100, 100)])
    other = LakeTable(spark, table.table_dir)
    theirs = _write_entries(spark, table, [("theirs", 200, 200)])
    other.commit(other.snapshot().files + theirs)  # lands BEFORE my commit

    table.commit(snap0.files + mine, basis=snap0)
    final = {f["path"] for f in table.snapshot().files}
    assert {e["path"] for e in mine} <= final
    assert {e["path"] for e in theirs} <= final
    ks = {r["k"] for r in table.read().collect()}
    assert {"mine", "theirs"} <= ks


def test_stale_basis_property_change_conflicts(spark, table):
    """A property-changing commit (rebucket-style) computed against a
    stale basis must refuse to rebase — its file layout depends on the
    properties."""
    snap0 = table.snapshot()
    mine = _write_entries(spark, table, [("mine", 100, 100)])
    other = LakeTable(spark, table.table_dir)
    other.commit(other.snapshot().files)  # any intervening commit

    props = dict(snap0.properties)
    props["n_buckets"] = props["n_buckets"] * 2
    with pytest.raises(ConcurrentCommitError, match="property-changing"):
        table.commit(snap0.files + mine, properties=props, basis=snap0)
