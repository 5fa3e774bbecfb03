"""End-to-end replay vs serial oracle (SURVEY.md §5.2, BASELINE north star).

The engine replays the change log (bulk and streaming); the final lake
table must equal the serial in-memory fold on every column, under stable
(conv_id, turn_idx) ordering, with per-turn text byte-equality.
"""

from __future__ import annotations

import pytest

from gear5_spark.pipeline.runner import (
    bootstrap_table,
    make_applier,
    replay_batch,
    run_stream,
)
from gear5_spark.sources.changelog import read_changelog
from tests.oracle import oracle_rows

COMPARE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _table_rows(table) -> list[dict]:
    df = table.read().select(*COMPARE_COLS).orderBy("conv_id", "turn_idx")
    return [r.asDict() for r in df.collect()]


def _assert_matches_oracle(table, changelog_dir):
    got = _table_rows(table)
    want = oracle_rows(changelog_dir)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    for g, w in zip(got, want):
        for c in COMPARE_COLS:
            assert g[c] == w[c], (
                f"mismatch at ({w['conv_id']},{w['turn_idx']}) col {c}: "
                f"{g[c]!r} != {w[c]!r}"
            )


def test_bulk_replay_matches_oracle(spark, tiny_changelog, tmp_path):
    changelog_dir, manifest = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    replay_batch(
        spark, changelog_dir, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert table.read().count() == manifest["final_live_keys"]
    _assert_matches_oracle(table, changelog_dir)


def test_streaming_replay_matches_oracle(spark, tiny_changelog, tmp_path):
    changelog_dir, _ = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    run_stream(
        spark,
        changelog_dir,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
        timeout_sec=300,
    )
    _assert_matches_oracle(table, changelog_dir)
    # multiple micro-batches happened, each an atomic snapshot commit
    assert table.current_version() >= 3


def test_streaming_cow_matches_oracle(spark, tiny_changelog, tmp_path):
    changelog_dir, _ = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    run_stream(
        spark,
        changelog_dir,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        timeout_sec=300,
        sink_mode="cow",
    )
    _assert_matches_oracle(table, changelog_dir)


def test_lineage_covers_all_events(spark, tiny_changelog, tmp_path):
    changelog_dir, manifest = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    run_stream(
        spark,
        changelog_dir,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        timeout_sec=300,
    )
    lineage = table.lineage_df().orderBy("batch_id").collect()
    assert sum(r["event_count"] for r in lineage) == manifest["n_events"]
    # lsn ranges cover the whole log without overlap between batches
    assert lineage[0]["lsn_min"] == 0
    assert lineage[-1]["lsn_max"] == manifest["n_events"] - 1
    for prev, cur in zip(lineage, lineage[1:]):
        assert cur["lsn_min"] > prev["lsn_max"]
    for r in lineage:
        assert r["snapshot_id"] is not None and r["committed_at_ms"] > 0
        assert r["dedup_plan"] == "fused"


def test_applier_sets_no_session_conf(
    spark, tiny_changelog, tmp_path, monkeypatch
):
    """An applier call never writes the session-wide conf: two streams
    sharing one session would otherwise race on it."""
    from pyspark.sql.conf import RuntimeConfig

    changelog_dir, _ = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    calls = []
    orig = RuntimeConfig.set

    def spy(self, key, value):
        calls.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    replay_batch(
        spark, changelog_dir, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert table.current_version() >= 1
    assert calls == []


@pytest.mark.parametrize("sink_mode", ["cow", "mor"])
def test_known_keys_batch_needs_no_observation_fallback(
    spark, tiny_changelog, tmp_path, monkeypatch, sink_mode
):
    """A batch whose payload keys are all in the registry fills both of
    the applier's Observations: neither the re-count of the winner cache
    nor the re-scan of the batch for its stats runs."""
    changelog_dir, manifest = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    applier = make_applier(table, str(tmp_path / "ckpt"), sink_mode=sink_mode)
    applier(read_changelog(spark, changelog_dir), 0)
    # the second half of the same log: every payload key is registered
    known = read_changelog(spark, changelog_dir, min_lsn=manifest["n_events"] // 2)
    df_cls = type(known)

    def fallback(self, *args, **kwargs):
        raise AssertionError("Observation fallback ran")

    monkeypatch.setattr(df_cls, "count", fallback)
    monkeypatch.setattr(df_cls, "agg", fallback)
    assert applier(known, 1) is not None
    monkeypatch.undo()
    _assert_matches_oracle(table, changelog_dir)
