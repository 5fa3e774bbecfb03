"""CLI lifecycle end-to-end: spec/check/discover/read/state/compact/vacuum
(the reference's cobra command surface, protocol/root.go:71-78)."""

from __future__ import annotations

import json
import os

import pytest

from gen_fixtures import generate_changelog
from gear5_spark.cli import main


@pytest.fixture(scope="module")
def pipeline(tmp_path_factory, spark):
    root = tmp_path_factory.mktemp("cli")
    log = str(root / "log")
    generate_changelog(log, n_events=2_000, n_convs=40, chunk_rows=500)
    cfg = {
        "changelog_dir": log,
        "table_dir": str(root / "table"),
        "checkpoint_dir": str(root / "ckpt"),
        "mode": "bulk",
        "n_buckets": 4,
    }
    cfg_path = str(root / "cfg.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    return cfg, cfg_path


def _write_config(path, **cfg) -> str:
    with open(path, "w") as fh:
        json.dump(cfg, fh)
    return str(path)


def _run(capsys, argv) -> tuple[int, dict]:
    rc = main(argv)
    out = capsys.readouterr().out.strip()
    return rc, json.loads(out)


def test_spec(capsys):
    rc, doc = _run(capsys, ["spec"])
    assert rc == 0 and doc["type"] == "SPEC"
    assert "changelog_dir" in doc["spec"]["properties"]


def test_check_ok_and_bad_config(capsys, pipeline, tmp_path):
    cfg, cfg_path = pipeline
    rc, doc = _run(capsys, ["check", "--config", cfg_path])
    assert rc == 0 and doc["status"] == "SUCCEEDED"
    bad = dict(cfg, mode="nope")
    bad_path = str(tmp_path / "bad.json")
    with open(bad_path, "w") as fh:
        json.dump(bad, fh)
    rc, doc = _run(capsys, ["check", "--config", bad_path])
    assert rc == 1 and doc["status"] == "FAILED"


def test_discover_types_payload(capsys, pipeline):
    _, cfg_path = pipeline
    rc, doc = _run(capsys, ["discover", "--config", cfg_path, "--sample", "200"])
    assert rc == 0
    stream = doc["streams"][0]
    assert stream["source_defined_primary_key"] == ["conv_id", "turn_idx"]
    typed = stream["payload_fields_typed"]
    assert typed["role"]["type"] == "string"
    assert typed["ts"]["type"] == "epoch_seconds"  # configured schema wins


def test_discover_missing_changelog_is_an_error_document(capsys, tmp_path):
    cfg_path = _write_config(
        tmp_path / "cfg.json", changelog_dir=str(tmp_path / "missing"),
        table_dir=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    rc, doc = _run(capsys, ["discover", "--config", cfg_path])
    assert rc == 1
    assert doc["type"] == "LOG" and doc["level"] == "ERROR"
    assert "changelog_dir not found" in doc["message"]


def test_discover_advertises_the_registry_read_writes(capsys, spark, tmp_path):
    """``discover`` runs the applier's sampler: a reserved-name key (``op``)
    gets the same sanitized column and a new numeric key the same token
    as the registry ``read`` then writes, and discover writes nothing."""
    from tests.test_inference import _write_log

    base = {"role": "user", "text": "x", "ts": 1_700_000_000}
    log = str(tmp_path / "log")
    _write_log(log, [{**base, "op": "edit", "n_tokens": 10 + i} for i in range(20)])
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    cfg_path = _write_config(
        tmp_path / "cfg.json", changelog_dir=log,
        table_dir=str(tmp_path / "table"), checkpoint_dir=str(ckpt),
        mode="bulk", n_buckets=4,
    )
    rc, doc = _run(capsys, ["discover", "--config", cfg_path])
    assert rc == 0
    assert list(ckpt.iterdir()) == []
    stream = doc["streams"][0]
    assert {"op", "n_tokens"} <= set(stream["payload_fields_observed"])
    assert stream["sampled_records"] == 20
    typed = stream["payload_fields_typed"]

    rc, _ = _run(capsys, ["read", "--config", cfg_path])
    assert rc == 0
    with open(ckpt / "payload_schema.json") as fh:
        written = json.load(fh)["fields"]
    assert typed == written
    assert written["n_tokens"] == {"type": "long", "source": "n_tokens"}
    assert "op" not in written
    assert [f["source"] for f in written.values()].count("op") == 1


def test_discover_types_winners_only(capsys, spark, tmp_path):
    """A key carried only by an event that loses last-write-wins is never
    typed by the applier, so ``discover`` does not advertise it either;
    ``sampled_records`` still counts the raw sample."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gen_fixtures import CHANGE_SCHEMA

    base = {"role": "user", "text": "x", "ts": 1_700_000_000}
    # (conv_id, lsn, payload): c0's first event carries `mood` and loses
    # to its second; c1 and c2 carry `n_tokens` on their winners
    events = [
        ("c0", 0, {**base, "mood": "calm"}),
        ("c1", 1, {**base, "n_tokens": 5}),
        ("c0", 2, {**base, "text": "y"}),
        ("c2", 3, {**base, "n_tokens": 7}),
    ]
    n = len(events)
    log = tmp_path / "log"
    log.mkdir()
    pq.write_table(
        pa.table(
            {
                "lsn": [e[1] for e in events],
                "txn_id": [0] * n,
                "txn_seq": [e[1] for e in events],
                "op": ["insert", "insert", "update", "insert"],
                "ts_ms": [1_700_000_000_000 + e[1] for e in events],
                "conv_id": [e[0] for e in events],
                "turn_idx": [0] * n,
                "after_json": [json.dumps(e[2]) for e in events],
            },
            schema=CHANGE_SCHEMA,
        ),
        str(log / "chunk-000000.parquet"),
    )
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    cfg_path = _write_config(
        tmp_path / "cfg.json", changelog_dir=str(log),
        table_dir=str(tmp_path / "table"), checkpoint_dir=str(ckpt),
        mode="bulk", n_buckets=4,
    )
    rc, doc = _run(capsys, ["discover", "--config", cfg_path])
    assert rc == 0
    stream = doc["streams"][0]
    assert stream["sampled_records"] == n
    typed = stream["payload_fields_typed"]
    assert "mood" not in typed
    assert typed["n_tokens"] == {"type": "long", "source": "n_tokens"}

    rc, _ = _run(capsys, ["read", "--config", cfg_path])
    assert rc == 0
    with open(ckpt / "payload_schema.json") as fh:
        written = json.load(fh)["fields"]
    assert "mood" not in written
    assert typed == written


@pytest.mark.parametrize("flags", [["--warmup"], ["--repeats", "2"]])
def test_read_has_no_benchmark_flags(flags, tmp_path):
    with pytest.raises(SystemExit) as e:
        main(["read", "--config", str(tmp_path / "cfg.json"), *flags])
    assert e.value.code == 2


def test_read_then_state(capsys, pipeline):
    _, cfg_path = pipeline
    rc, doc = _run(capsys, ["read", "--config", cfg_path])
    assert rc == 0 and doc["type"] == "STATE" and doc["rows"] > 0
    assert "apply.merge" in doc["phases"]
    cfg, _ = pipeline
    rc, st = _run(capsys, ["state", "--table-dir", cfg["table_dir"]])
    assert rc == 0
    assert st["snapshot_version"] >= 1
    assert st["lineage_tail"], "lineage tail must carry the commit row"
    assert st["txn"]  # the bulk app recorded its batch


def test_compact_and_vacuum(capsys, pipeline):
    cfg, _ = pipeline
    rc, doc = _run(capsys, ["compact", "--table-dir", cfg["table_dir"]])
    assert rc == 0  # CoW table: nothing to compact is a clean no-op
    assert "nothing to compact" in doc["message"]
    rc, doc = _run(
        capsys,
        ["vacuum", "--table-dir", cfg["table_dir"], "--retention-sec", "0"],
    )
    assert rc == 0 and doc["removed_commits"] == []


def test_bulk_read_respects_delete_mode_soft(capsys, spark, tmp_path):
    """Config knobs must reach the BULK applier too: delete_mode=soft
    keeps tombstones instead of silently hard-deleting."""
    import pyspark.sql.functions as F

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2_000, n_convs=40, chunk_rows=500)
    cfg = {
        "changelog_dir": log,
        "table_dir": str(tmp_path / "table"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "mode": "bulk",
        "n_buckets": 4,
        "delete_mode": "soft",
    }
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    rc, _ = _run(capsys, ["read", "--config", cfg_path])
    assert rc == 0
    from gear5_spark.lake.table import LakeTable

    table = LakeTable(spark, cfg["table_dir"])
    n_tombstones = (
        table.read().filter(F.col("_cdc_deleted_at").isNotNull()).count()
    )
    assert n_tombstones > 0  # deletes survived as tombstones


def test_read_refuses_delete_mode_mismatch(capsys, spark, tmp_path):
    """A config whose delete_mode differs from the existing table's is an
    ERROR line and exit 1, before anything is applied."""
    from gear5_spark.pipeline.runner import bootstrap_table

    log = str(tmp_path / "log")
    os.makedirs(log)
    cfg = {
        "changelog_dir": log,
        "table_dir": str(tmp_path / "table"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "mode": "bulk",
        "n_buckets": 4,
        "delete_mode": "soft",
    }
    bootstrap_table(spark, cfg["table_dir"], n_buckets=4)  # hard
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    rc, doc = _run(capsys, ["read", "--config", cfg_path])
    assert rc == 1
    assert doc["level"] == "ERROR" and "delete_mode='hard'" in doc["message"]


def test_check_reports_type_error_as_failed(capsys, tmp_path):
    """A wrong-typed config value must yield a FAILED status line, not a
    traceback (dataclasses don't type-check)."""
    cfg_path = str(tmp_path / "bad.json")
    with open(cfg_path, "w") as fh:
        json.dump(
            {"changelog_dir": "x", "table_dir": "y",
             "checkpoint_dir": "z", "n_buckets": "16"},
            fh,
        )
    rc, doc = _run(capsys, ["check", "--config", cfg_path])
    assert rc == 1 and doc["status"] == "FAILED"
