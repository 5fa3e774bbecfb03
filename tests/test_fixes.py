"""Round-2 fix batch (VERDICT #4/#5/#7 + ADVICE): exclude_columns wired
into the CDC path, quarantine idempotency, job-free point lookup,
delete-mode mismatch refusal, vacuum retention."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gen_fixtures import CHANGE_SCHEMA
from gear5_spark.pipeline.runner import bootstrap_table, make_applier
from gear5_spark.sources.changelog import read_changelog


def _write_log(d: str, payloads: list[dict | None], conv=None) -> None:
    os.makedirs(d, exist_ok=True)
    n = len(payloads)
    tbl = pa.table(
        {
            "lsn": list(range(n)),
            "txn_id": [0] * n,
            "txn_seq": list(range(n)),
            "op": ["insert"] * n,
            "ts_ms": [1_700_000_000_000 + i for i in range(n)],
            "conv_id": conv or [f"c{i}" for i in range(n)],
            "turn_idx": [0] * n,
            "after_json": [
                json.dumps(p) if p is not None else None for p in payloads
            ],
        },
        schema=CHANGE_SCHEMA,
    )
    pq.write_table(tbl, os.path.join(d, "chunk-000000.parquet"))


def test_exclude_columns_never_land(spark, tmp_path):
    """P2: a configured excluded payload column is absent from the target
    — and never parsed at all (dropped before from_json)."""
    log = str(tmp_path / "log")
    _write_log(
        log,
        [
            {"role": "user", "text": "a", "ts": 1_700_000_000, "secret": "x"},
            {"role": "user", "text": "b", "ts": 1_700_000_060, "secret": "y"},
        ],
    )
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(
        table, str(tmp_path / "c"), exclude_columns=["role", "secret"]
    )
    applier(read_changelog(spark, log), 0)
    names = {f.name for f in table.schema.fields}
    # a discovered-but-excluded column never even enters the schema
    assert "secret" not in names
    # a pre-existing target column stays in the schema (additive table)
    # but excluded values never land — every row reads null
    df = table.read()
    assert df.filter(df.role.isNotNull()).count() == 0
    assert df.filter(df.text.isNull()).count() == 0


def test_exclude_key_column_rejected(spark, tmp_path):
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    with pytest.raises(ValueError, match="key columns"):
        make_applier(table, str(tmp_path / "c"), exclude_columns=["conv_id"])


def _write_delete_log(log: str) -> str:
    """Inserts (a,0) and (b,0), then deletes (a,0)."""
    payload = {"role": "u", "text": "x", "ts": 1_700_000_000}
    os.makedirs(log)
    tbl = pa.table(
        {
            "lsn": [0, 1, 2],
            "txn_id": [0, 0, 0],
            "txn_seq": [0, 1, 2],
            "op": ["insert", "insert", "delete"],
            "ts_ms": [1_700_000_000_000 + i for i in range(3)],
            "conv_id": ["a", "b", "a"],
            "turn_idx": [0, 0, 0],
            "after_json": [json.dumps(payload), json.dumps(payload), None],
        },
        schema=CHANGE_SCHEMA,
    )
    pq.write_table(tbl, os.path.join(log, "chunk-000000.parquet"))
    return log


@pytest.mark.parametrize("sink_mode", ["cow", "mor"])
def test_bootstrap_refuses_delete_mode_mismatch(spark, tmp_path, sink_mode):
    """The delete policy is fixed when the table is created: bootstrapping
    an existing table with the other mode raises instead of handing it to
    an applier, whichever sink then writes it. A hard table never holds
    tombstones."""
    log = _write_delete_log(str(tmp_path / "log"))
    path = str(tmp_path / "t")
    table = bootstrap_table(spark, path, n_buckets=4)  # hard
    applier = make_applier(
        table, str(tmp_path / "c"), sink_mode=sink_mode, compact_every=0
    )
    applier(read_changelog(spark, log), 0)
    assert [r["conv_id"] for r in table.read().collect()] == ["b"]

    with pytest.raises(ValueError, match="delete_mode='hard'"):
        bootstrap_table(spark, path, n_buckets=4, delete_mode="soft")
    soft = str(tmp_path / "s")
    bootstrap_table(spark, soft, n_buckets=4, delete_mode="soft")
    with pytest.raises(ValueError, match="delete_mode='soft'"):
        bootstrap_table(spark, soft, n_buckets=4)
    # same mode: the existing table is returned
    assert bootstrap_table(spark, path, n_buckets=4).current_version() >= 1


def test_bootstrap_refuses_n_buckets_mismatch(spark, tmp_path):
    """The bucket count is fixed when the table is created: bootstrapping
    an existing table with another count raises and names rebucket,
    instead of handing back the old layout."""
    path = str(tmp_path / "t")
    bootstrap_table(spark, path, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets=16.*rebucket"):
        bootstrap_table(spark, path, n_buckets=32)
    table = bootstrap_table(spark, path, n_buckets=16)
    assert table.snapshot().properties["n_buckets"] == 16


def test_mor_soft_delete_keeps_tombstones(spark, tmp_path):
    """sink_mode=mor + delete_mode=soft: delete winners survive
    reconstruct AND compaction as tombstones with _cdc_deleted_at set."""
    from gear5_spark.lake.merge import active
    from gear5_spark.lake.mor import compact

    log = _write_delete_log(str(tmp_path / "log"))
    table = bootstrap_table(
        spark, str(tmp_path / "t"), n_buckets=4, delete_mode="soft"
    )
    applier = make_applier(
        table, str(tmp_path / "c"), sink_mode="mor", compact_every=0
    )
    applier(read_changelog(spark, log), 0)

    df = table.read()
    assert df.count() == 2  # tombstone for (a,0) retained
    tomb = df.filter("conv_id = 'a'").first()
    assert tomb["_cdc_deleted_at"] is not None
    assert active(df).count() == 1  # readers filter tombstones

    compact(table)  # tombstones survive compaction into base files
    df2 = table.read()
    assert df2.count() == 2
    assert active(df2).count() == 1


def test_quarantine_replay_is_idempotent(spark, tmp_path):
    """A crash-then-replay of a batch must not duplicate dead-letter rows
    (the quarantine write is outside the atomic commit)."""
    log = str(tmp_path / "log")
    payload = {"role": "user", "text": "x", "ts": 1_700_000_000}
    _write_log(log, [payload] * 3, conv=["a", None, None])
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    dead = str(tmp_path / "dead")
    applier = make_applier(table, str(tmp_path / "c"), quarantine_dir=dead)
    applier(read_changelog(spark, log), 0)
    n1 = spark.read.parquet(dead).count()
    assert n1 == 2
    # simulate a replay of the same batch by a fresh applier whose table
    # didn't record the commit (crash before commit): quarantine rewrites
    # the same batch_id partition instead of appending duplicates
    applier2 = make_applier(
        table.__class__(spark, str(tmp_path / "t2")) if False else
        bootstrap_table(spark, str(tmp_path / "t2"), n_buckets=4),
        str(tmp_path / "c2"),
        quarantine_dir=dead,
    )
    applier2(read_changelog(spark, log), 0)
    assert spark.read.parquet(dead).count() == 2  # replaced, not appended


def test_lookup_runs_exactly_one_job(spark, tmp_path):
    """VERDICT #7: the bucket is computed driver-side (the table's bucket
    expression folded over literals); lookup costs exactly one job — the
    pruned scan."""
    log = str(tmp_path / "log")
    _write_log(
        log,
        [{"role": "user", "text": f"t{i}", "ts": 1_700_000_000 + i}
         for i in range(20)],
    )
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    applier = make_applier(table, str(tmp_path / "c"))
    applier(read_changelog(spark, log), 0)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    df = table.lookup(conv_id="c7", turn_idx=0)
    rows = df.collect()
    after = set(tracker.getJobIdsForGroup() or [])
    assert len(rows) == 1 and rows[0]["text"] == "t7"
    assert len(after - before) == 1  # the scan job, nothing else


def test_vacuum_respects_retention(spark, tmp_path):
    from pyspark.sql import functions as F

    log = str(tmp_path / "log")
    _write_log(log, [{"role": "u", "text": "a", "ts": 1}])
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=2)
    applier = make_applier(table, str(tmp_path / "c"))
    applier(read_changelog(spark, log), 0)
    orphan = table.read().withColumn("_bucket", F.lit(0))
    commit, _ = table.write_data_files(orphan)  # uncommitted -> orphan
    assert table.vacuum() == []  # young orphan protected (1h retention)
    removed = table.vacuum(retention_sec=0)
    assert commit in removed  # the uncommitted dir is collected
    # anything else removed must be a per-file orphan (e.g. a zero-row
    # bucket file the manifest never referenced), never a live file
    assert all(r == commit or r.endswith(".parquet") for r in removed)
    assert table.read().count() == 1


def test_reserved_payload_key_does_not_wedge(spark, tmp_path):
    """A payload key named like a feed-meta column ('op') must land as a
    RENAMED column instead of poisoning the registry and crashing every
    replay with an ambiguous reference."""
    log = str(tmp_path / "log")
    _write_log(
        log,
        [
            {"role": "user", "text": "a", "ts": 1_700_000_000, "op": "add"},
            {"role": "user", "text": "b", "ts": 1_700_000_060, "op": "del"},
        ],
    )
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "c"))
    applier(read_changelog(spark, log), 0)
    reg = applier.load_registry()
    landed = [n for n, f in reg.items() if f["source"] == "op"]
    assert landed and landed[0] != "op"  # discovered under a safe name
    got = table.read().select(landed[0]).collect()
    assert {r[0] for r in got} == {"add", "del"}
    # second batch replays cleanly (the registry is not poisoned)
    applier(read_changelog(spark, log), 1)


def test_all_malformed_batch_records_lineage(spark, tmp_path):
    """A batch whose EVERY event is quarantined still commits its
    lineage (malformed_count) and advances the txn ledger."""
    log = str(tmp_path / "log")
    payload = {"role": "user", "text": "x", "ts": 1_700_000_000}
    _write_log(log, [payload] * 2, conv=[None, None])
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    dead = str(tmp_path / "dead")
    applier = make_applier(table, str(tmp_path / "c"), quarantine_dir=dead)
    snap = applier(read_changelog(spark, log), 0)
    assert snap is not None
    row = [
        e for e in table.lineage_df().collect() if e["batch_id"] == 0
    ]
    assert row and row[0]["malformed_count"] == 2
    assert table.last_committed_batch("transcripts-cdc") == 0
    # the replayed batch is now deduped by the ledger
    assert applier(read_changelog(spark, log), 0) is None


def test_bounded_replay_rerun_cannot_regress(spark, tmp_path):
    """Re-running an lsn-bounded replay phase AFTER a later phase
    committed must be a no-op (every replay is LSN-guarded), not a
    silent regression to the stale prefix."""
    from gen_fixtures import generate_changelog
    from gear5_spark.lake.merge import active
    from gear5_spark.pipeline.runner import replay_batch

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2000, n_convs=40, chunk_rows=500,
                       seed=11)
    # soft deletes: an out-of-order rerun needs tombstones to refuse
    # resurrecting hard-deleted keys (the guard cannot compare against
    # a row that no longer exists) — see replay_batch's docstring
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8,
                            delete_mode="soft")
    replay_batch(spark, log, table, str(tmp_path / "c1"), max_lsn=999)
    replay_batch(spark, log, table, str(tmp_path / "c2"), min_lsn=1000,
                 max_lsn=1999)
    want = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in active(table.read()).collect()
    }
    # out-of-order re-run of phase 1 (fresh checkpoint => fresh batch id)
    replay_batch(spark, log, table, str(tmp_path / "c3"), max_lsn=999)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in active(table.read()).collect()
    }
    assert got == want  # nothing regressed to the lsn<=999 state


def test_all_malformed_null_lsn_batch_still_commits(spark, tmp_path):
    """ADVICE r3: an all-malformed batch whose corrupt rows ALSO carry
    NULL lsn (broken feeds are what the dead-letter path exists for)
    must still commit its quarantined-only lineage — min/max lsn are
    None and the nullable lineage columns record that, instead of a
    TypeError mid-commit."""
    log = str(tmp_path / "log")
    os.makedirs(log, exist_ok=True)
    payload = {"role": "user", "text": "x", "ts": 1_700_000_000}
    n = 2
    tbl = pa.table(
        {
            "lsn": [None] * n,
            "txn_id": [0] * n,
            "txn_seq": [0, 1],
            "op": ["insert"] * n,
            "ts_ms": [1_700_000_000_000, 1_700_000_000_001],
            "conv_id": [None] * n,
            "turn_idx": [0] * n,
            "after_json": [json.dumps(payload)] * n,
        },
        schema=CHANGE_SCHEMA,
    )
    pq.write_table(tbl, os.path.join(log, "chunk-000000.parquet"))
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(
        table, str(tmp_path / "c"), quarantine_dir=str(tmp_path / "dead")
    )
    snap = applier(read_changelog(spark, log), 0)
    assert snap is not None
    row = [e for e in table.lineage_df().collect() if e["batch_id"] == 0]
    assert row and row[0]["malformed_count"] == 2
    assert row[0]["lsn_min"] is None and row[0]["lsn_max"] is None
    assert table.last_committed_batch("transcripts-cdc") == 0


def test_all_null_lsn_valid_keys_batch_commits(spark, tmp_path):
    """The other half of the NULL-lsn space: every row has NULL lsn but
    VALID keys, so the batch takes the normal commit path — lineage
    construction must null-guard there too, not just in the
    quarantined-only branch."""
    log = str(tmp_path / "log")
    os.makedirs(log, exist_ok=True)
    n = 3
    tbl = pa.table(
        {
            "lsn": [None] * n,
            "txn_id": [0] * n,
            "txn_seq": list(range(n)),
            "op": ["insert"] * n,
            "ts_ms": [1_700_000_000_000 + i for i in range(n)],
            "conv_id": [f"c{i}" for i in range(n)],
            "turn_idx": [0] * n,
            "after_json": [
                json.dumps({"role": "user", "text": f"t{i}"})
                for i in range(n)
            ],
        },
        schema=CHANGE_SCHEMA,
    )
    pq.write_table(tbl, os.path.join(log, "chunk-000000.parquet"))
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "c"))
    snap = applier(read_changelog(spark, log), 0)
    assert snap is not None
    got = {r.conv_id for r in table.read().select("conv_id").collect()}
    assert got == {"c0", "c1", "c2"}
    row = [e for e in table.lineage_df().collect() if e["batch_id"] == 0]
    assert row[0]["lsn_min"] is None and row[0]["lsn_max"] is None
    assert row[0]["event_count"] == n
