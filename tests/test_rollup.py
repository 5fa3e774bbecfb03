"""Incrementally-maintained conversation rollup: per-batch refresh must
equal a from-scratch recompute at every commit boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gen_fixtures import generate_changelog
from gear5_spark.operators.conversations import conversation_stats
from gear5_spark.pipeline.rollup import ConversationRollup, bootstrap_rollup
from gear5_spark.pipeline.runner import bootstrap_table, make_applier
from gear5_spark.sources.changelog import read_changelog

COLS = ["conv_id", "n_turns", "n_roles", "total_chars", "duration_s"]


def _full_recompute(base):
    return conversation_stats(base.read())


def _rows(df):
    return sorted(tuple(r[c] for c in COLS) for r in df.select(COLS).collect())


@pytest.fixture()
def pipeline(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_changelog(log, n_events=3000, n_convs=40, chunk_rows=1000)
    base = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    rollup_t = bootstrap_rollup(spark, str(tmp_path / "r"), n_buckets=4)
    rollup = ConversationRollup(base, rollup_t)
    applier = make_applier(base, str(tmp_path / "ckpt"), rollup=rollup)
    return log, base, rollup, applier


def test_rollup_tracks_base_per_batch(spark, pipeline):
    log, base, rollup, applier = pipeline
    applier(read_changelog(spark, log, max_lsn=1499), 0)
    assert _rows(rollup.read()) == _rows(_full_recompute(base))
    applier(read_changelog(spark, log, min_lsn=1499), 1)
    assert _rows(rollup.read()) == _rows(_full_recompute(base))


def test_rollup_replay_is_noop(spark, pipeline):
    log, base, rollup, applier = pipeline
    applier(read_changelog(spark, log), 0)
    v = rollup.rollup.current_version()
    # checkpoint replay of the same batch: base dedupes, rollup ledger
    # short-circuits — no new commit on either table
    applier(read_changelog(spark, log), 0)
    assert rollup.rollup.current_version() == v
    assert _rows(rollup.read()) == _rows(_full_recompute(base))


def test_rollup_drops_fully_deleted_conversations(spark, pipeline):
    log, base, rollup, applier = pipeline
    applier(read_changelog(spark, log), 0)
    victim = base.read().first()["conv_id"]

    # feed batch 1: delete every live turn of the victim conversation
    turns = base.read().filter(F.col("conv_id") == victim)
    deletes = turns.select(
        (F.lit(10_000_000) + F.monotonically_increasing_id()).alias("lsn"),
        F.lit(0).cast("long").alias("txn_id"),
        F.lit(0).cast("int").alias("txn_seq"),
        F.lit("delete").alias("op"),
        F.unix_millis(F.current_timestamp()).alias("ts_ms"),
        "conv_id",
        "turn_idx",
        F.lit(None).cast("string").alias("after_json"),
    )
    applier(deletes, 1)
    assert base.read().filter(F.col("conv_id") == victim).count() == 0
    assert rollup.read().filter(F.col("conv_id") == victim).count() == 0
    assert _rows(rollup.read()) == _rows(_full_recompute(base))


def test_rollup_refreshed_by_a_fresh_ledger_applier(spark, pipeline, tmp_path):
    """A second applier with its own (fresh) ledger refreshes the rollup
    after the first applier's later batches: the rollup is stamped with
    the base version its recompute read, not a batch id, so the
    refresh of batch 0 replaces rows the first applier wrote at
    batches 1 and 2."""
    log, base, rollup, applier = pipeline
    for bid, (lo, hi) in enumerate([(None, 999), (999, 1999), (1999, 2499)]):
        applier(read_changelog(spark, log, min_lsn=lo, max_lsn=hi), bid)
    bulk_rollup = ConversationRollup(base, rollup.rollup)
    bulk = make_applier(
        base, str(tmp_path / "ckpt-bulk"), app_id="bulk", rollup=bulk_rollup
    )
    bulk(read_changelog(spark, log), 0)
    assert _rows(rollup.read()) == _rows(_full_recompute(base))
    stamps = {r["_cdc_lsn"] for r in rollup.read().collect()}
    assert stamps == {str(base.current_version())}


def test_rollup_catches_up_after_crash_between_commits(spark, tmp_path):
    """Crash window: base committed batch 0 but the rollup never saw it.
    The checkpoint replay skips the base apply (txn ledger) — the rollup
    must still be refreshed from the replayed batch's key set."""
    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2000, n_convs=30, chunk_rows=1000)
    base = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    # batch 0 applied with NO rollup attached = the crash-window state
    applier0 = make_applier(base, str(tmp_path / "ckpt"))
    applier0(read_changelog(spark, log), 0)

    rollup = ConversationRollup(
        base, bootstrap_rollup(spark, str(tmp_path / "r"), n_buckets=4)
    )
    applier1 = make_applier(base, str(tmp_path / "ckpt"), rollup=rollup)
    applier1(read_changelog(spark, log), 0)  # replay: base skips
    assert applier1.skipped_batches == [0]
    assert _rows(rollup.read()) == _rows(_full_recompute(base))


def test_rollup_respects_soft_delete_tombstones(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2000, n_convs=30, chunk_rows=1000)
    base = bootstrap_table(
        spark, str(tmp_path / "t"), n_buckets=4, delete_mode="soft"
    )
    rollup = ConversationRollup(
        base, bootstrap_rollup(spark, str(tmp_path / "r"), n_buckets=4)
    )
    applier = make_applier(
        base, str(tmp_path / "ckpt"), rollup=rollup
    )
    applier(read_changelog(spark, log), 0)
    from gear5_spark.lake.merge import active

    # tombstoned turns must not count: rollup == stats over ACTIVE rows
    want = sorted(
        tuple(r[c] for c in COLS)
        for r in conversation_stats(active(base.read())).select(COLS).collect()
    )
    assert _rows(rollup.read()) == want
    # and the base genuinely holds tombstones (soft mode worked)
    assert base.read().filter(F.col("_cdc_deleted_at").isNotNull()).count() > 0


def test_rollup_via_cli_config(spark, tmp_path, capsys):
    """rollup_dir in the pipeline config maintains the derived table
    through the CLI read path (stream mode, real foreachBatch)."""
    import json

    from gear5_spark.cli import main
    from gear5_spark.lake.table import LakeTable

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2000, n_convs=30, chunk_rows=500)
    cfg = {
        "changelog_dir": log,
        "table_dir": str(tmp_path / "t"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "rollup_dir": str(tmp_path / "r"),
        "mode": "stream",
        "n_buckets": 4,
        "max_files_per_trigger": 2,
    }
    cfg_path = str(tmp_path / "cfg.json")
    json.dump(cfg, open(cfg_path, "w"))
    rc = main(["read", "--config", cfg_path, "--timeout", "600"])
    assert rc == 0
    capsys.readouterr()
    base = LakeTable(spark, cfg["table_dir"])
    got = sorted(
        tuple(r[c] for c in COLS)
        for r in LakeTable(spark, cfg["rollup_dir"]).read().select(COLS).collect()
    )
    want = sorted(
        tuple(r[c] for c in COLS)
        for r in conversation_stats(base.read()).select(COLS).collect()
    )
    assert got == want and got
