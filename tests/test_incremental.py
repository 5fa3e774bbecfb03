"""Non-CDC incremental path: cursor state, full refresh, file sources
(SURVEY.md S1/S2/S7/S9, A1, P2/P3)."""

from __future__ import annotations

import datetime as dt

import pytest

from gear5_spark.pipeline.state import CursorStateStore
from gear5_spark.sources.incremental import IncrementalSource, validate_streams

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_source():
    return IncrementalSource.parquet(
        "testdata",
        "events",
        f"{SF}/events.parquet",
        cursor_field="ts",
        primary_key=["event_id"],
    )


def test_full_refresh_and_exclude(spark, events_source):
    df = events_source.full_refresh(spark)
    assert df.count() == 1000
    src2 = IncrementalSource.parquet(
        "testdata", "events", f"{SF}/events.parquet",
        exclude_columns=["props", "value"],
    )
    assert set(src2.full_refresh(spark).columns) == {
        "event_id", "ts", "user_id", "event_type"
    }


def test_incremental_sync_cycle(spark, tmp_path, events_source):
    state = CursorStateStore(str(tmp_path / "state.json"))
    # sync 1: no state -> everything
    df, commit = events_source.incremental(spark, state)
    total = df.count()
    assert total == 1000
    cursor = commit()
    assert isinstance(cursor, dt.datetime)
    # sync 2: nothing new
    df2, commit2 = events_source.incremental(spark, state)
    assert df2.count() == 0
    assert commit2() == cursor  # max of empty batch never regresses state
    # state survives a fresh store instance (file-backed)
    state3 = CursorStateStore(str(tmp_path / "state.json"))
    assert state3.get("testdata", "events") == cursor
    row = state3.to_df(spark).first()
    assert row["stream"] == "events" and row["cursor_field"] == "ts"


def test_cursor_monotonic_fold(tmp_path):
    s = CursorStateStore(str(tmp_path / "s.json"))
    assert s.advance("ns", "t", "c", 5) == 5
    assert s.advance("ns", "t", "c", 3) == 5  # never regresses (A1 max fold)
    assert s.advance("ns", "t", "c", 9) == 9
    assert s.advance("ns", "t", "c", None) == 9
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    assert s.advance("ns", "u", "ts", ts) == ts
    assert CursorStateStore(str(tmp_path / "s.json")).get("ns", "u") == ts


def test_validate_streams(spark):
    good = IncrementalSource.parquet(
        "ns", "events", f"{SF}/events.parquet", cursor_field="ts",
        primary_key=["event_id"],
    )
    bad_cursor = IncrementalSource.parquet(
        "ns", "events", f"{SF}/events.parquet", cursor_field="nope"
    )
    bad_pk = IncrementalSource.parquet(
        "ns", "events", f"{SF}/events.parquet", primary_key=["missing_col"]
    )
    missing = IncrementalSource.parquet("ns", "gone", "/nonexistent/x.parquet")
    problems = validate_streams(spark, [good, bad_cursor, bad_pk, missing])
    assert len(problems) == 3
    assert any("cursor nope" in p for p in problems)
    assert any("pk column missing_col" in p for p in problems)
    assert any("unreadable" in p for p in problems)


def test_incremental_files_mtime(spark, tmp_path):
    import os
    import time

    from gear5_spark.sources.files import incremental_files

    d = str(tmp_path / "drop")
    os.makedirs(d)
    spark.range(10).toDF("a").coalesce(1).write.parquet(d + "/f1")
    # parquet writes create nested dirs — the recursive listing must find them
    state = CursorStateStore(str(tmp_path / "state.json"))
    df, commit = incremental_files(
        spark, state, "ns", "drop", d, pattern="*.parquet"
    )
    assert df.count() == 10
    commit()
    time.sleep(1.1)  # mtime granularity
    spark.range(5).toDF("a").coalesce(1).write.parquet(d + "/f2")
    df2, commit2 = incremental_files(
        spark, state, "ns", "drop", d, pattern="*.parquet"
    )
    assert df2.count() == 5  # only the new file
    commit2()


def test_snapshot_then_cdc_handoff(spark, tiny_changelog, tmp_path):
    """S5/ST6: snapshot-load the pre-computed state of the log prefix, then
    stream only the tail — final state must equal the full-oracle fold."""
    from gear5_spark.pipeline.runner import (
        bootstrap_table,
        replay_batch,
        snapshot_load,
    )
    from tests.oracle import oracle_rows

    changelog_dir, manifest = tiny_changelog
    half = manifest["n_events"] // 2

    # build the snapshot from an independent replay of the prefix
    pre = bootstrap_table(spark, str(tmp_path / "pre"), n_buckets=8)
    replay_batch(spark, changelog_dir, pre, str(tmp_path / "ckpt0"), max_lsn=half - 1)
    snapshot_df = pre.read().select("conv_id", "turn_idx", "role", "text", "ts")

    # snapshot load into the real target at lsn = half-1, then CDC tail
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    snapshot_load(spark, snapshot_df, table, lsn=half - 1)
    assert table.read().count() == snapshot_df.count()
    replay_batch(
        spark, changelog_dir, table, str(tmp_path / "ckpt1"),
        min_lsn=half - 1,
    )

    got = [
        r.asDict()
        for r in table.read()
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = oracle_rows(changelog_dir)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["text"] == w["text"], (g["conv_id"], g["turn_idx"])


@pytest.mark.parametrize("sink_mode", ["cow", "mor"])
def test_snapshot_then_older_replay_keeps_snapshot(spark, tmp_path, sink_mode):
    """A snapshot loaded at lsn L is newer than every event of a log whose
    lsns are all < L: an unbounded replay of that log must keep every
    snapshot row, in both sinks (every applier batch is LSN-guarded)."""
    from pyspark.sql import functions as F

    from gen_fixtures import generate_changelog
    from gear5_spark.pipeline.runner import (
        bootstrap_table,
        make_applier,
        replay_batch,
        snapshot_load,
    )
    from gear5_spark.sources.changelog import read_changelog

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2_000, n_convs=40, chunk_rows=500)
    snapshot_df = (
        read_changelog(spark, log)
        .select("conv_id", "turn_idx")
        .distinct()
        .withColumn("role", F.lit("snapshot"))
        .withColumn("text", F.concat(F.lit("snap-"), F.col("conv_id")))
        .withColumn("ts", F.lit(None).cast("timestamp"))
    )
    want = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in snapshot_df.collect()
    }
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    snapshot_load(spark, snapshot_df, table, lsn=10**12)
    ckpt = str(tmp_path / "ckpt")
    replay_batch(
        spark, log, table, ckpt,
        applier=make_applier(table, ckpt, sink_mode=sink_mode),
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read().collect()
    }
    assert got == want


def test_incremental_files_mtime_snapshot_at_read(spark, tmp_path):
    """A file modified AFTER the read but BEFORE commit() must stay ahead
    of the cursor (its new mtime is not folded in), so the next sync
    re-reads the unsynced modification."""
    import os
    import time

    from gear5_spark.sources.files import incremental_files

    d = str(tmp_path / "drop")
    os.makedirs(d)
    spark.range(10).toDF("a").coalesce(1).write.parquet(d + "/f1")
    state = CursorStateStore(str(tmp_path / "state.json"))
    df, commit = incremental_files(
        spark, state, "ns", "drop", d, pattern="*.parquet"
    )
    assert df.count() == 10
    # simulate a post-read append: bump the file's mtime before commit
    time.sleep(1.1)
    for root, _dirs, names in os.walk(d):
        for n in names:
            if n.endswith(".parquet"):
                os.utime(os.path.join(root, n))
    commit()
    # next sync must re-deliver the modified file, not skip it
    df2, _ = incremental_files(
        spark, state, "ns", "drop", d, pattern="*.parquet"
    )
    assert df2.count() == 10


def test_cursor_state_date_and_decimal_roundtrip(tmp_path):
    """date/Decimal cursors must round-trip TYPED: the old string
    fallback made the second advance() compare date-vs-str and crash
    the stream's sync forever."""
    import datetime as dt
    from decimal import Decimal

    s = CursorStateStore(str(tmp_path / "s.json"))
    s.advance("ns", "d", "day", dt.date(2024, 1, 1))
    assert s.get("ns", "d") == dt.date(2024, 1, 1)
    s.advance("ns", "d", "day", dt.date(2024, 1, 2))  # crashed before
    assert s.get("ns", "d") == dt.date(2024, 1, 2)
    s.advance("ns", "d", "day", dt.date(2023, 12, 31))  # monotone: no-op
    assert s.get("ns", "d") == dt.date(2024, 1, 2)

    s.advance("ns", "m", "amount", Decimal("10.50"))
    s.advance("ns", "m", "amount", Decimal("10.75"))
    assert s.get("ns", "m") == Decimal("10.75")
