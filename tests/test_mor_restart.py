"""Exactly-once under MoR: crash mid-stream with delta commits, restart,
no dupes/losses; compaction interleaved with the txn ledger."""

from __future__ import annotations

import pytest

from gear5_spark.pipeline.apply import TranscriptsApplier
from gear5_spark.pipeline.runner import bootstrap_table, make_applier, run_stream
from tests.oracle import oracle_rows


class CrashingMorApplier(TranscriptsApplier):
    crash_at = 3
    crashed = False

    def __call__(self, batch, batch_id):
        if batch_id >= self.crash_at and not CrashingMorApplier.crashed:
            CrashingMorApplier.crashed = True
            raise RuntimeError("injected mor crash")
        return super().__call__(batch, batch_id)


def test_mor_restart_from_checkpoint(spark, tiny_changelog, tmp_path):
    _crash_and_resume(spark, tiny_changelog, tmp_path, n_buckets=8)


def test_mor_restart_with_range_files(spark, tiny_changelog, tmp_path):
    # 32 buckets on the width-8 test session: every delta file holds a
    # bucket range, and the inline compactions widen to whole files
    table = _crash_and_resume(spark, tiny_changelog, tmp_path, n_buckets=32)
    ranges = [
        f
        for s in table.history()
        for f in s.files
        if f.get("kind") == "delta" and "bucket_range" in f
    ]
    assert ranges


def _crash_and_resume(spark, tiny_changelog, tmp_path, n_buckets):
    changelog_dir, manifest = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=n_buckets)
    ckpt = str(tmp_path / "ckpt")

    CrashingMorApplier.crashed = False
    base = make_applier(table, ckpt, sink_mode="mor", compact_every=2)
    crasher = CrashingMorApplier(
        table=base.table,
        app_id=base.app_id,
        registry_path=base.registry_path,
        sink_mode="mor",
        compact_every=2,
    )
    with pytest.raises(Exception, match="injected mor crash"):
        run_stream(
            spark, changelog_dir, table, checkpoint_dir=ckpt,
            max_files_per_trigger=1, applier=crasher, timeout_sec=600,
        )
    assert table.last_committed_batch("transcripts-cdc") is not None

    resumed = make_applier(table, ckpt, sink_mode="mor", compact_every=2)
    run_stream(
        spark, changelog_dir, table, checkpoint_dir=ckpt,
        max_files_per_trigger=1, applier=resumed, timeout_sec=600,
    )
    got = [
        r.asDict()
        for r in table.read()
        .select("conv_id", "turn_idx", "text", "tool")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = oracle_rows(changelog_dir)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["text"] == w["text"]
        assert g["tool"] == w["tool"]
    # lineage still covers every event exactly once
    lineage = table.lineage_df().collect()
    assert sum(r["event_count"] for r in lineage) == manifest["n_events"]
    return table
