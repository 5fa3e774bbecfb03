"""Merge-on-read delta files that hold several buckets.

A 32-bucket table streamed on the suite's width-8 session gets range-
placed deltas: each micro-batch, of one change-log file or two, writes at
most 8 delta files, each holding four contiguous whole buckets. Every read and rewrite path must
select, filter and drop those files by their full bucket range; each
case is checked against the serial oracle or a full read."""

from __future__ import annotations

import contextlib
import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.delete import delete_where
from gear5_spark.lake.diff import table_diff
from gear5_spark.lake.fsck import fsck
from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.mor import compact, merge_delta
from gear5_spark.lake.table import (
    BUCKET_COL,
    LakeTable,
    entry_buckets,
    whole_file_scope,
)
from gear5_spark.parallel import shuffle_width
from gear5_spark.pipeline.runner import bootstrap_table, make_applier, run_stream
from tests.oracle import oracle_final_state

N_BUCKETS = 32
COLS = ["conv_id", "turn_idx", "role", "text", "ts"]


def _stream(spark, changelog_dir, root, files_per_trigger=1):
    table = bootstrap_table(spark, str(root / "t"), n_buckets=N_BUCKETS)
    applier = make_applier(
        table, str(root / "ckpt"), sink_mode="mor", compact_every=0
    )
    run_stream(
        spark, changelog_dir, table, checkpoint_dir=str(root / "ckpt"),
        max_files_per_trigger=files_per_trigger, applier=applier,
        timeout_sec=600,
    )
    return table


@pytest.fixture(scope="module")
def range_table(spark, tiny_changelog, tmp_path_factory):
    return _stream(spark, tiny_changelog[0], tmp_path_factory.mktemp("mor-ranges"))


def _copy(spark, table, tmp_path) -> LakeTable:
    dst = str(tmp_path / "copy")
    shutil.copytree(table.table_dir, dst)
    return LakeTable(spark, dst)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def _oracle(changelog_dir, drop=lambda key: False) -> list[tuple]:
    state = oracle_final_state(changelog_dir)
    return sorted(
        tuple(row[c] for c in COLS)
        for key, row in state.items()
        if not drop(key)
    )


def _range_entries(snap) -> list[dict]:
    return [f for f in snap.files if len(entry_buckets(f)) > 1]


@pytest.mark.parametrize("files_per_trigger", [1, 2])
def test_micro_batch_writes_at_most_width_range_files(
    spark, request, tiny_changelog, tmp_path, files_per_trigger
):
    if files_per_trigger == 1:
        range_table = request.getfixturevalue("range_table")
    else:
        # three micro-batches of the 5-chunk log
        range_table = _stream(
            spark, tiny_changelog[0], tmp_path, files_per_trigger=2
        )
    width = shuffle_width(spark)
    assert width < N_BUCKETS  # the suite's session really groups buckets
    versions = [
        e["snapshot_version"]
        for s in range_table.history()
        for e in s.lineage
    ]
    assert len(versions) >= 3
    seen_range = False
    for v in versions:
        before = {f["path"] for f in range_table.snapshot(v - 1).files}
        new = [f for f in range_table.snapshot(v).files if f["path"] not in before]
        assert 0 < len(new) <= min(N_BUCKETS, width)
        for f in new:
            assert f["kind"] == "delta"
            meta = pq.ParquetFile(
                os.path.join(range_table.table_dir, f["path"])
            ).metadata
            idx = meta.schema.names.index(BUCKET_COL)
            lo = min(
                meta.row_group(g).column(idx).statistics.min
                for g in range(meta.num_row_groups)
            )
            hi = max(
                meta.row_group(g).column(idx).statistics.max
                for g in range(meta.num_row_groups)
            )
            assert entry_buckets(f) == range(lo, hi + 1)
            # one placement slot: contiguous buckets of one width-th
            assert lo * width // N_BUCKETS == hi * width // N_BUCKETS
            seen_range = seen_range or lo != hi
    assert seen_range


def test_full_read_matches_oracle(range_table, tiny_changelog):
    assert _range_entries(range_table.snapshot())
    assert _rows(range_table.read()) == _oracle(tiny_changelog[0])


def test_read_buckets_keeps_only_those_buckets(range_table):
    full = range_table.read(with_internal=True).select(*COLS, BUCKET_COL).collect()
    by_bucket: dict[int, list[tuple]] = {}
    for r in full:
        by_bucket.setdefault(r[BUCKET_COL], []).append(tuple(r)[:-1])
    for b in range(N_BUCKETS):
        got = _rows(range_table.read(buckets=[b]))
        assert got == sorted(by_bucket.get(b, [])), b


def test_lookup_live_and_deleted_keys(range_table, tiny_changelog):
    changelog_dir = tiny_changelog[0]
    state = oracle_final_state(changelog_dir)
    every_key = set()
    for path in glob.glob(os.path.join(changelog_dir, "chunk-*.parquet")):
        t = pq.read_table(path, columns=["conv_id", "turn_idx"])
        every_key.update(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
    deleted = sorted(every_key - set(state))
    assert deleted
    for conv_id, turn_idx in sorted(state)[::40]:
        got = range_table.lookup(conv_id=conv_id, turn_idx=turn_idx).collect()
        assert [r["text"] for r in got] == [state[(conv_id, turn_idx)]["text"]]
    for conv_id, turn_idx in deleted[:5]:
        assert range_table.lookup(conv_id=conv_id, turn_idx=turn_idx).count() == 0


def test_scan_and_read_updated_since(range_table):
    full = range_table.read().collect()
    stamps = sorted(r["_cdc_updated_at"] for r in full)
    since = stamps[len(stamps) // 2]
    want = sorted(
        tuple(r[c] for c in COLS) for r in full if r["_cdc_updated_at"] >= since
    )
    got = range_table.scan([("_cdc_updated_at", ">=", since)])
    assert _rows(got) == want

    conv = sorted(r["conv_id"] for r in full)[len(full) // 3]
    keep, skipped = range_table.plan_scan([("conv_id", "=", conv)])
    assert len(keep) + skipped == len(range_table.snapshot().files)
    got = _rows(range_table.scan([("conv_id", "=", conv)]))
    assert got == sorted(
        tuple(r[c] for c in COLS) for r in full if r["conv_id"] == conv
    )


def _kv_table(spark, tmp_path) -> LakeTable:
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("_cdc_lsn", T.StringType(), True),
        ]
    )
    return LakeTable.create(
        spark, str(tmp_path / "kv"), schema=schema, key_columns=["k"],
        n_buckets=N_BUCKETS,
    )


@contextlib.contextmanager
def width(spark, n):
    """Run the block on a session of shuffle width ``n``."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _range_delta(spark, t, rows, n_slots=8):
    """merge_delta with the applier's range placement at width ``n_slots``."""
    rows = spark.createDataFrame(rows, "k string, v long, _cdc_lsn string, op string")
    with width(spark, n_slots):
        batch, placement = t.place(rows, t.snapshot())
        return merge_delta(t, batch, pre_placed=placement)


def test_compact_min_deltas_widens_to_whole_ranges(spark, tmp_path):
    """A one-bucket delta over range-placed base files: compaction folds
    only the bucket that holds a delta, widened to the whole base range
    file holding it; every other base file is kept."""
    t = _kv_table(spark, tmp_path)
    _range_delta(spark, t, [(f"k{i}", i, str(10 + i), "insert") for i in range(200)])
    compact(t)
    first = {f["path"]: f for f in t.snapshot().files}
    assert len(first) <= 8 and not any(f.get("kind") == "delta" for f in first.values())
    assert all(len(entry_buckets(f)) > 1 for f in first.values())
    _range_delta(spark, t, [("k7", 70, "500", "update")])
    hot = [f for f in t.snapshot().files if f["path"] not in first]
    assert len(hot) == 1 and len(entry_buckets(hot[0])) == 1
    hot_bucket = entry_buckets(hot[0])[0]
    holder = next(f for f in first.values() if hot_bucket in entry_buckets(f))

    compact(t)
    snap = t.snapshot()
    assert not any(f.get("kind") == "delta" for f in snap.files)
    # the holder's range was rewritten whole; every other base file stayed
    kept = {f["path"] for f in snap.files} & set(first)
    assert kept == set(first) - {holder["path"]}
    (new,) = [f for f in snap.files if f["path"] not in first]
    assert entry_buckets(new) == entry_buckets(holder)
    expect = {f"k{i}": i for i in range(200)} | {"k7": 70}
    assert {r["k"]: r["v"] for r in t.read().collect()} == expect
    assert compact(t) is None  # no-op once no delta is resident


def test_delete_where_rewrites_whole_range_files(
    spark, range_table, tiny_changelog, tmp_path
):
    t = _copy(spark, range_table, tmp_path)
    before = t.snapshot().files
    conv = sorted(oracle_final_state(tiny_changelog[0]))[0][0]
    _snap, n = delete_where(t, F.col("conv_id") == conv)
    assert n == sum(
        1 for k in oracle_final_state(tiny_changelog[0]) if k[0] == conv
    )
    after = t.snapshot().files
    gone = [f for f in before if f["path"] not in {g["path"] for g in after}]
    rewritten = {b for f in gone for b in entry_buckets(f)}
    assert rewritten and not any(
        set(entry_buckets(f)) & rewritten
        for f in after
        if f.get("kind") == "delta"
    )
    assert _rows(t.read()) == _oracle(
        tiny_changelog[0], drop=lambda key: key[0] == conv
    )


def test_table_diff_over_range_files(range_table):
    versions = [
        e["snapshot_version"] for s in range_table.history() for e in s.lineage
    ]
    v_from = versions[1]
    old = {
        (r["conv_id"], r["turn_idx"]): r["_cdc_lsn"]
        for r in range_table.read(snapshot=range_table.snapshot(v_from)).collect()
    }
    new = {
        (r["conv_id"], r["turn_idx"]): r["_cdc_lsn"]
        for r in range_table.read().collect()
    }
    want = sorted(
        [(k, "insert") for k in new.keys() - old.keys()]
        + [(k, "delete") for k in old.keys() - new.keys()]
        + [(k, "update") for k in new.keys() & old.keys() if new[k] != old[k]]
    )
    got = sorted(
        ((r["conv_id"], r["turn_idx"]), r["change"])
        for r in table_diff(range_table, v_from).collect()
    )
    assert got == want and got


def test_metadata_maintenance_keeps_range_files(
    spark, range_table, tiny_changelog, tmp_path
):
    t = _copy(spark, range_table, tmp_path)
    ranges = {f["path"] for f in _range_entries(t.snapshot())}
    assert ranges
    t.rewrite_manifests()
    assert t.expire_snapshots(keep_last=1, manifest_retention_sec=0)
    t.vacuum(retention_sec=0)
    snap = t.snapshot()
    assert {f["path"] for f in _range_entries(snap)} == ranges
    assert sorted(snap.manifest_list[0]["buckets"]) == list(range(N_BUCKETS))
    assert fsck(t, deep=True)["ok"]
    assert _rows(t.read()) == _oracle(tiny_changelog[0])


def test_cow_merge_over_resident_range_deltas(
    spark, range_table, tiny_changelog, tmp_path
):
    t = _copy(spark, range_table, tmp_path)
    state = oracle_final_state(tiny_changelog[0])
    keys = sorted(state)
    upd, dele = keys[3], keys[50]
    batch = spark.createDataFrame(
        [
            (upd[0], upd[1], "user", "rewritten", "9999999", "update"),
            (dele[0], dele[1], None, None, "9999999", "delete"),
            ("new-conv", 0, "user", "fresh", "9999999", "insert"),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "_cdc_lsn string, op string",
    )
    before = t.snapshot().files
    _snap, stats = merge_into(t, batch)
    after = t.snapshot().files
    rewritten = set(stats.affected_buckets)
    # every delta touching a rewritten bucket went whole
    assert not any(
        set(entry_buckets(f)) & rewritten for f in after if f.get("kind") == "delta"
    )
    assert any(
        len(entry_buckets(f)) > 1 and set(entry_buckets(f)) & rewritten
        for f in before
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    want = {k: row["text"] for k, row in state.items()}
    want[upd] = "rewritten"
    del want[dele]
    want[("new-conv", 0)] = "fresh"
    assert got == want


def test_ranges_of_two_widths_close_transitively(spark, tmp_path):
    # a table written by sessions of different widths holds overlapping
    # ranges ([0..3] at width 8, [0..7] at width 4): the rewrite scope of
    # bucket 0 must take [0..3], then [0..7], then [4..7] — the closure —
    # and a read of one bucket must still filter every range file it
    # opens, before and after compaction
    t = _kv_table(spark, tmp_path)
    _range_delta(spark, t, [(f"k{i}", i, str(10 + i), "insert") for i in range(200)])
    _range_delta(
        spark, t, [(f"k{i}", -i, str(1000 + i), "update") for i in range(0, 200, 3)],
        n_slots=4,
    )
    expect = {f"k{i}": (-i if i % 3 == 0 else i) for i in range(200)}
    full = {r["k"]: r for r in t.read(with_internal=True).collect()}
    assert {k: r["v"] for k, r in full.items()} == expect
    for b in (0, 5, 31):
        got = {r["k"]: r["v"] for r in t.read(buckets=[b]).collect()}
        assert got == {k: r["v"] for k, r in full.items() if r[BUCKET_COL] == b}

    assert whole_file_scope(t.snapshot().files, {0}) == set(range(8))
    compact(t)
    assert not any(f.get("kind") == "delta" for f in t.snapshot().files)
    assert {r["k"]: r["v"] for r in t.read().collect()} == expect
    for b in (0, 5, 31):
        got = {r["k"]: r["v"] for r in t.read(buckets=[b]).collect()}
        assert got == {k: r["v"] for k, r in full.items() if r[BUCKET_COL] == b}
