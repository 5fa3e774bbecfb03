"""Messy-feed normalization through the applier's SQL normalizer: mixed
timestamp layouts, stringly bools, numeric strings — the reference's
ReformatValue behavior (typeutils/reformat.go:44-173) exercised
end-to-end."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gen_fixtures import CHANGE_SCHEMA
from gear5_spark.pipeline.runner import bootstrap_table, make_applier
from gear5_spark.sources.changelog import read_changelog


def _write_log(d: str, payloads: list[dict | None]) -> None:
    os.makedirs(d, exist_ok=True)
    n = len(payloads)
    tbl = pa.table(
        {
            "lsn": list(range(n)),
            "txn_id": [0] * n,
            "txn_seq": list(range(n)),
            "op": ["insert"] * n,
            "ts_ms": [1_700_000_000_000 + i for i in range(n)],
            "conv_id": [f"c{i}" for i in range(n)],
            "turn_idx": [0] * n,
            "after_json": [
                json.dumps(p) if p is not None else None for p in payloads
            ],
        },
        schema=CHANGE_SCHEMA,
    )
    pq.write_table(tbl, os.path.join(d, "chunk-000000.parquet"))


def test_sql_normalizer_coerces_messy_fields(spark, tmp_path):
    log = str(tmp_path / "log")
    _write_log(
        log,
        [
            {"role": "user", "text": "a", "ts": 1_700_000_000,
             "flagged": "yes", "seen_at": "2024-03-01T10:30:00", "score": "1.5"},
            {"role": "user", "text": "b", "ts": 1_700_000_060,
             "flagged": "0", "seen_at": "2024/03/02 11:00:00", "score": 2},
            {"role": "user", "text": "c", "ts": 1_700_000_120,
             "flagged": "junk", "seen_at": 1_709_900_000, "score": "bad"},
        ],
    )
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    # seed the registry with typed fields (≈ a configured catalog schema)
    tokens = {
        "role": "string",
        "text": "string",
        "ts": "epoch_seconds",
        "flagged": "boolean",
        "seen_at": "timestamp_iso",
        "score": "double",
    }
    with open(os.path.join(ckpt, "payload_schema.json"), "w") as fh:
        json.dump(
            {
                "version": 2,
                "fields": {
                    k: {"type": t, "source": k} for k, t in tokens.items()
                },
            },
            fh,
        )
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, ckpt)
    applier(read_changelog(spark, log), 0)

    rows = {
        r["conv_id"]: r.asDict()
        for r in table.read().orderBy("conv_id").collect()
    }
    assert rows["c0"]["flagged"] is True
    assert rows["c1"]["flagged"] is False
    assert rows["c2"]["flagged"] is None  # unmappable -> null, not error
    assert rows["c0"]["seen_at"] == dt.datetime(2024, 3, 1, 10, 30)
    assert rows["c1"]["seen_at"] == dt.datetime(2024, 3, 2, 11, 0)
    assert rows["c2"]["seen_at"] == dt.datetime.fromtimestamp(
        1_709_900_000, dt.timezone.utc
    ).replace(tzinfo=None)
    assert rows["c0"]["score"] == 1.5
    assert rows["c1"]["score"] == 2.0
    assert rows["c2"]["score"] is None
    # base text/ts columns intact
    assert rows["c0"]["text"] == "a"
    assert rows["c0"]["ts"] == dt.datetime(2023, 11, 14, 22, 13, 20)


def test_version_1_registry_refused(spark, tmp_path):
    """A registry in the old flat {name: spark-type} form is refused with
    a clear error instead of having its types guessed."""
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "payload_schema.json"), "w") as fh:
        json.dump({"role": "string", "text": "string", "ts": "double"}, fh)
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, ckpt)
    with pytest.raises(ValueError, match="not a version-2 registry"):
        applier.load_registry()


def test_null_key_events_quarantined(spark, tmp_path):
    """Events with null key parts are excluded from apply, counted in
    lineage, and land in the dead-letter sink."""
    import pyarrow as pa

    log = str(tmp_path / "qlog")
    os.makedirs(log)
    payload = json.dumps({"role": "user", "text": "x", "ts": 1_700_000_000})
    tbl = pa.table(
        {
            "lsn": [0, 1, 2, 3],
            "txn_id": [0, 0, 0, 0],
            "txn_seq": [0, 1, 2, 3],
            "op": ["insert"] * 4,
            "ts_ms": [1_700_000_000_000 + i for i in range(4)],
            "conv_id": ["a", None, "b", None],
            "turn_idx": [0, 0, None, 1],
            "after_json": [payload] * 4,
        },
        schema=CHANGE_SCHEMA,
    )
    pq.write_table(tbl, os.path.join(log, "chunk-000000.parquet"))

    table = bootstrap_table(spark, str(tmp_path / "qt"), n_buckets=4)
    applier = make_applier(
        table, str(tmp_path / "qc"), quarantine_dir=str(tmp_path / "dead")
    )
    applier(read_changelog(spark, log), 0)

    assert table.read().count() == 1  # only the fully-keyed event applied
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() == 3
    lin = table.lineage_df().first()
    assert lin["event_count"] == 4
    assert table.snapshot().lineage[-1]["malformed_count"] == 3
