"""Copy-on-write batches placed at the shuffle width.

A 32-bucket table written on the suite's width-8 session gets one file
per placement slot, each holding four contiguous whole buckets, instead
of one file per bucket. A MERGE then rewrites whole slots, so each new
range file replaces every file of its range; every read path selects
and filters those files by their full bucket range. Each case is
checked against the serial oracle or a full read."""

from __future__ import annotations

import glob
import os
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gear5_spark.lake.delete import delete_where
from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import (
    BUCKET_COL,
    SLOT_COL,
    ConcurrentCommitError,
    LakeTable,
    Placement,
    entry_buckets,
    whole_file_scope,
)
from gear5_spark.parallel import shuffle_width
from gear5_spark.pipeline.runner import (
    bootstrap_table,
    make_applier,
    replay_batch,
    run_stream,
)
from tests.oracle import oracle_final_state
from tests.test_mor_range_files import (
    COLS,
    N_BUCKETS,
    _kv_table,
    _oracle,
    _rows,
    width,
)


def test_slot_count_rule():
    """The slot count of every lake write at each shuffle width, for a
    32-bucket table and either sink: the width, capped at one slot per
    bucket. Metadata only, no Spark."""
    snap = SimpleNamespace(
        properties={"n_buckets": N_BUCKETS, "bucket_columns": ["k"]}
    )
    got = {w: LakeTable.placement(snap, w).n_slots for w in (4, 8, 32, 64)}
    assert got == {4: 4, 8: 8, 32: 32, 64: 32}


@pytest.mark.parametrize("n_buckets", [32, 8])
def test_place_sends_each_row_to_its_slot(spark, tmp_path, n_buckets):
    """``place`` puts every row in the partition its ``_pslot`` names,
    and ``_pslot`` follows the placement's slot rule: runs of whole
    buckets, at most one slot per bucket."""
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=n_buckets)
    snap = table.snapshot()
    df = spark.range(2000).select(
        (F.col("id") % 97).cast("string").alias("conv_id"),
        (F.col("id") / 97).cast("int").alias("turn_idx"),
    )
    for n in (4, 8, 32, 64):
        with width(spark, n):
            placed, p = table.place(df, snap)
            rows = placed.select(
                BUCKET_COL, SLOT_COL, F.spark_partition_id().alias("pid")
            ).collect()
        assert p.n_slots == min(n, n_buckets), n
        assert {r["pid"] for r in rows} == set(range(p.n_slots)), n
        assert all(r["pid"] == r[SLOT_COL] for r in rows), n
        assert all(r[SLOT_COL] == p.slot_of(r[BUCKET_COL]) for r in rows), n


def test_scope_widens_to_whole_slots_and_files():
    one_per_bucket = [{"path": f"b{b}", "bucket": b} for b in range(N_BUCKETS)]
    p8 = Placement(N_BUCKETS, ("k",), 8)
    assert whole_file_scope(one_per_bucket, [4, 6], p8) == {4, 5, 6, 7}
    # a range file from an earlier, narrower session closes transitively
    files = one_per_bucket + [{"path": "r", "bucket_range": [6, 9]}]
    assert whole_file_scope(files, [4], p8) == set(range(4, 12))
    # one slot per bucket never widens the scope
    p32 = Placement(N_BUCKETS, ("k",), 32)
    assert whole_file_scope(one_per_bucket, [4, 6], p32) == {4, 6}
    assert whole_file_scope(one_per_bucket, [4, 6]) == {4, 6}


def _footer_range(table_dir: str, f: dict) -> range:
    meta = pq.ParquetFile(os.path.join(table_dir, f["path"])).metadata
    idx = meta.schema.names.index(BUCKET_COL)
    stats = [
        meta.row_group(g).column(idx).statistics
        for g in range(meta.num_row_groups)
    ]
    return range(min(s.min for s in stats), max(s.max for s in stats) + 1)


def _assert_slot_files(table: LakeTable, files: list[dict], width: int) -> None:
    assert 0 < len(files) <= width
    for f in files:
        r = entry_buckets(f)
        assert r == _footer_range(table.table_dir, f)
        # one placement slot: contiguous buckets of one width-th
        assert r[0] * width // N_BUCKETS == r[-1] * width // N_BUCKETS


@pytest.fixture(scope="module")
def replayed(spark, tiny_changelog, tmp_path_factory):
    root = tmp_path_factory.mktemp("cow-ranges")
    table = bootstrap_table(spark, str(root / "t"), n_buckets=N_BUCKETS)
    replay_batch(spark, tiny_changelog[0], table, str(root / "ckpt"))
    return table


def test_replay_writes_at_most_width_range_files(spark, replayed, tiny_changelog):
    width = shuffle_width(spark)
    assert width < N_BUCKETS  # the suite's session really groups buckets
    files = replayed.snapshot().files
    _assert_slot_files(replayed, files, width)
    assert any(len(entry_buckets(f)) > 1 for f in files)
    assert _rows(replayed.read()) == _oracle(tiny_changelog[0])


def test_read_buckets_keeps_only_those_buckets(replayed):
    full = replayed.read(with_internal=True).select(*COLS, BUCKET_COL).collect()
    by_bucket: dict[int, list[tuple]] = {}
    for r in full:
        by_bucket.setdefault(r[BUCKET_COL], []).append(tuple(r)[:-1])
    for b in range(N_BUCKETS):
        got = _rows(replayed.read(buckets=[b]))
        assert got == sorted(by_bucket.get(b, [])), b


def test_lookup_live_and_deleted_keys(replayed, tiny_changelog):
    changelog_dir = tiny_changelog[0]
    state = oracle_final_state(changelog_dir)
    every_key = set()
    for path in glob.glob(os.path.join(changelog_dir, "chunk-*.parquet")):
        t = pq.read_table(path, columns=["conv_id", "turn_idx"])
        every_key.update(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
    deleted = sorted(every_key - set(state))
    assert deleted
    for conv_id, turn_idx in sorted(state)[::40]:
        got = replayed.lookup(conv_id=conv_id, turn_idx=turn_idx).collect()
        assert [r["text"] for r in got] == [state[(conv_id, turn_idx)]["text"]]
    for conv_id, turn_idx in deleted[:5]:
        assert replayed.lookup(conv_id=conv_id, turn_idx=turn_idx).count() == 0


def test_stream_rewrites_whole_slots_each_batch(spark, tiny_changelog, tmp_path):
    """Every micro-batch of a copy-on-write stream writes at most `width`
    slot files over the previous batch's range files."""
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=N_BUCKETS)
    ckpt = str(tmp_path / "ckpt")
    run_stream(
        spark, tiny_changelog[0], table, checkpoint_dir=ckpt,
        max_files_per_trigger=2,
        applier=make_applier(table, ckpt, sink_mode="cow"),
        timeout_sec=600,
    )
    width = shuffle_width(spark)
    versions = [e["snapshot_version"] for s in table.history() for e in s.lineage]
    assert len(versions) >= 3
    for v in versions:
        before = {f["path"] for f in table.snapshot(v - 1).files}
        new = [f for f in table.snapshot(v).files if f["path"] not in before]
        _assert_slot_files(table, new, width)
    assert _rows(table.read()) == _oracle(tiny_changelog[0])


def _bucket_keys(t: LakeTable, n: int) -> dict[int, list[str]]:
    """{bucket: keys} for keys k0..k{n-1} under ``t``'s layout."""
    df = t.spark.createDataFrame([(f"k{i}",) for i in range(n)], "k string")
    out: dict[int, list[str]] = {}
    for r in df.select("k", t.bucket_expr().alias("b")).collect():
        out.setdefault(r["b"], []).append(r["k"])
    return out


def _per_bucket_table(spark, tmp_path, n_keys=400):
    """A 32-bucket table holding one file per bucket (written at width
    32), and its {key: v} contents."""
    t = _kv_table(spark, tmp_path)
    rows = [(f"k{i}", i, str(10 + i), "insert") for i in range(n_keys)]
    batch = spark.createDataFrame(rows, "k string, v long, _cdc_lsn string, op string")
    with width(spark, N_BUCKETS):
        merge_into(t, batch)
    files = t.snapshot().files
    assert sorted(b for f in files for b in entry_buckets(f)) == list(range(N_BUCKETS))
    assert len(files) == N_BUCKETS
    return t, {k: v for k, v, _, _ in rows}


def _placed_merge(spark, t, rows, affected):
    batch = spark.createDataFrame(rows, "k string, v long, _cdc_lsn string, op string")
    placed, placement = t.place(batch, t.snapshot())
    return merge_into(t, placed, affected_buckets=affected, pre_placed=placement)


def test_slot_merge_over_per_bucket_files_rewrites_whole_slot(spark, tmp_path):
    """A batch touching buckets 4 and 6, placed on 8 slots, writes one
    file for slot [4..7]: that file replaces the slot's four per-bucket
    files (bucket 5's rows carried over) and the batch commits."""
    t, expect = _per_bucket_table(spark, tmp_path)
    by_bucket = _bucket_keys(t, 1_000)
    old4 = [k for k in by_bucket[4] if k in expect]
    old6 = [k for k in by_bucket[6] if k in expect]
    upd = old4[:3] + old6[:2]
    new = [k for k in by_bucket[6] if k not in expect][:2]
    dele = old4[3]
    rows = (
        [(k, -int(k[1:]), "5000", "update") for k in upd + new]
        + [(dele, None, "5000", "delete")]
    )
    before = t.snapshot().files
    _snap, stats = _placed_merge(spark, t, rows, [4, 6])
    assert stats.affected_buckets == [4, 5, 6, 7]
    after = t.snapshot().files
    gone = [f for f in before if f["path"] not in {g["path"] for g in after}]
    added = [f for f in after if f["path"] not in {g["path"] for g in before}]
    assert sorted(b for f in gone for b in entry_buckets(f)) == [4, 5, 6, 7]
    assert [f.get("bucket_range") for f in added] == [[4, 7]]
    assert _footer_range(t.table_dir, added[0]) == range(4, 8)
    for k in upd + new:
        expect[k] = -int(k[1:])
    del expect[dele]
    assert {r["k"]: r["v"] for r in t.read().collect()} == expect
    # the range file answers single-bucket reads and lookups
    for b in (4, 5, 7):
        got = {r["k"] for r in t.read(buckets=[b]).collect()}
        assert got == {k for k in by_bucket[b] if k in expect}
    assert t.lookup(k=upd[0]).collect()[0]["v"] == expect[upd[0]]
    assert t.lookup(k=dele).count() == 0


def test_row_in_untouched_slot_still_refuses(spark, tmp_path):
    """A declared bucket set is a promise: a row hashing into a slot it
    does not touch (layout drift) refuses the commit."""
    t, _ = _per_bucket_table(spark, tmp_path)
    by_bucket = _bucket_keys(t, 1_000)
    version = t.current_version()
    rows = [
        (by_bucket[4][0], 1, "5000", "update"),
        (by_bucket[20][0], 1, "5000", "update"),  # slot 5, undeclared
    ]
    with pytest.raises(ConcurrentCommitError, match="20"):
        _placed_merge(spark, t, rows, [4])
    assert t.current_version() == version


def test_merge_over_bucket_of_two_files_rewrites_both(spark, tmp_path):
    """A bucket holding two base files, the layout left by commits that
    split a bucket over several slots: a copy-on-write merge touching
    the bucket rewrites both files and reads back equal to the oracle."""
    t = _kv_table(spark, tmp_path)
    by_bucket = _bucket_keys(t, 1_000)
    halves = (by_bucket[4][:3] + by_bucket[9][:2], by_bucket[4][3:6])
    expect = {k: int(k[1:]) for half in halves for k in half}
    snap = t.snapshot()
    entries = []
    with width(spark, N_BUCKETS):
        for half in halves:
            df = spark.createDataFrame(
                [(k, int(k[1:]), "10") for k in half],
                "k string, v long, _cdc_lsn string",
            )
            entries += t.write_data_files(df, snap=snap)[1]
    t.commit(files=entries, basis=snap)
    two = [f["path"] for f in t.snapshot().files if entry_buckets(f) == range(4, 5)]
    assert len(two) == 2

    upd, dele = halves[0][0], halves[1][0]
    rows = [(upd, -1, "20", "update"), (dele, None, "20", "delete")]
    merge_into(
        t, spark.createDataFrame(rows, "k string, v long, _cdc_lsn string, op string")
    )
    assert not set(two) & {f["path"] for f in t.snapshot().files}
    expect[upd] = -1
    del expect[dele]
    assert {r["k"]: r["v"] for r in t.read().collect()} == expect
    assert t.lookup(k=upd).collect()[0]["v"] == -1


def test_delete_where_rewrites_whole_slots(spark, tmp_path):
    """A predicate delete hitting buckets 4 and 6 of a one-file-per-bucket
    table, on the width-8 session, writes one file for slot [4..7]: it
    replaces the slot's four files, like a MERGE."""
    t, expect = _per_bucket_table(spark, tmp_path)
    by_bucket = _bucket_keys(t, 1_000)
    live = {b: [k for k in by_bucket[b] if k in expect] for b in (4, 6)}
    gone = live[4][:2] + live[6][:1]
    before = t.snapshot().files
    _snap, n = delete_where(t, F.col("k").isin(gone))
    assert n == 3
    after = t.snapshot().files
    added = [f for f in after if f["path"] not in {g["path"] for g in before}]
    assert [entry_buckets(f) for f in added] == [range(4, 8)]
    assert len(before) - len(after) == 3
    for k in gone:
        del expect[k]
    assert {r["k"]: r["v"] for r in t.read().collect()} == expect
