"""End-to-end replay vs serial oracle (SURVEY.md §5.2, BASELINE north star).

The engine replays the change log (bulk and streaming); the final lake
table must equal the serial in-memory fold on every column, under stable
(conv_id, turn_idx) ordering, with per-turn text byte-equality.
"""

from __future__ import annotations

from gear5_spark.pipeline.runner import bootstrap_table, replay_batch, run_stream
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


def test_streaming_salted_matches_oracle(spark, tiny_changelog, tmp_path):
    changelog_dir, _ = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    applier = None
    from gear5_spark.pipeline.runner import make_applier

    applier = make_applier(
        table, str(tmp_path / "ckpt"), salt_buckets=8
    )
    run_stream(
        spark,
        changelog_dir,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        applier=applier,
        timeout_sec=300,
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
