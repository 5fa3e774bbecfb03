"""Mid-stream payload-key discovery with reference-parity type inference
(VERDICT r1 #2/#6): a `created_at` ISO string lands TIMESTAMP, `flags`
lands BOOLEAN, ints land LONG, arrays/objects land typed, and ugly key
names are sanitized — per /root/reference/typeutils/datatype.go:12-40 and
drivers/google-sheets/internal/utils.go:147-185."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

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


def test_discovered_keys_land_typed(spark, tmp_path):
    base = {"role": "user", "text": "x", "ts": 1_700_000_000}
    log = str(tmp_path / "log")
    _write_log(
        log,
        [
            {**base, "created_at": "2024-03-01T10:30:00", "flags": True,
             "n_edits": 3, "tags": ["a", "b"],
             "meta": {"model": "m1", "temp": 0.5}},
            {**base, "created_at": "2024-03-02 11:00:00", "flags": False,
             "n_edits": 4, "tags": ["c"],
             "meta": {"model": "m2", "temp": 1.0}},
        ],
    )
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "c"))
    applier(read_changelog(spark, log), 0)

    schema = {f.name: f.dataType for f in table.schema.fields}
    assert schema["created_at"] == T.TimestampType()  # date-string -> TS
    assert schema["flags"] == T.BooleanType()
    assert schema["n_edits"] == T.LongType()
    assert schema["tags"] == T.ArrayType(T.StringType())
    assert isinstance(schema["meta"], T.StructType)
    assert schema["meta"]["temp"].dataType == T.DoubleType()

    rows = {r["conv_id"]: r.asDict() for r in table.read().collect()}
    assert rows["c0"]["created_at"] == dt.datetime(2024, 3, 1, 10, 30)
    assert rows["c1"]["created_at"] == dt.datetime(2024, 3, 2, 11, 0)
    assert rows["c0"]["flags"] is True and rows["c1"]["flags"] is False
    assert rows["c0"]["tags"] == ["a", "b"]
    assert rows["c1"]["meta"]["model"] == "m2"


def test_ugly_key_names_sanitized(spark, tmp_path):
    base = {"role": "user", "text": "x", "ts": 1_700_000_000}
    log = str(tmp_path / "log")
    _write_log(
        log,
        [
            {**base, "1MyName": "v", "größe": 7, "User Agent": "ua"},
        ],
    )
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "c"))
    applier(read_changelog(spark, log), 0)

    names = {f.name for f in table.schema.fields}
    assert {"_1_my_name", "grosse", "user_agent"} <= names
    row = table.read().first()
    assert row["_1_my_name"] == "v"
    assert row["grosse"] == 7
    assert row["user_agent"] == "ua"
    # registry round-trips: a second applier instance re-reads v2 format
    applier2 = make_applier(table, str(tmp_path / "c"))
    reg = applier2.load_registry()
    assert reg["_1_my_name"] == {"type": "string", "source": "1MyName"}
    assert reg["grosse"]["type"] == "long"


def test_deferred_key_lands_on_later_batch(spark, tmp_path):
    """A key observed only in events that lose the last-write-wins race
    is deferred (winners don't carry it -> nothing lost) and typed the
    first time a winner carries it."""
    base = {"role": "user", "text": "x", "ts": 1_700_000_000}
    log1 = str(tmp_path / "log1")
    # same key (c0, 0): the lsn-0 event carries `extra`, lsn-1 wins without
    n = 2
    tbl = pa.table(
        {
            "lsn": [0, 1],
            "txn_id": [0, 0],
            "txn_seq": [0, 1],
            "op": ["insert", "update"],
            "ts_ms": [1_700_000_000_000, 1_700_000_000_001],
            "conv_id": ["c0"] * n,
            "turn_idx": [0] * n,
            "after_json": [
                json.dumps({**base, "extra": 1}),
                json.dumps(base),
            ],
        },
        schema=CHANGE_SCHEMA,
    )
    os.makedirs(log1)
    pq.write_table(tbl, os.path.join(log1, "chunk-000000.parquet"))
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "c"))
    applier(read_changelog(spark, log1), 0)
    assert "extra" not in {f.name for f in table.schema.fields}

    log2 = str(tmp_path / "log2")
    _write_log(log2, [{**base, "extra": 2}])
    applier(read_changelog(spark, log2), 1)
    schema = {f.name: f.dataType for f in table.schema.fields}
    assert schema["extra"] == T.LongType()


def test_extend_registry_job_count_independent_of_new_keys(spark, tmp_path):
    """VERDICT r2 #6: discovering K new payload keys must cost a CONSTANT
    number of Spark jobs (one discovery aggregate + one bounded sampling
    aggregate), not K filter+limit jobs."""
    from gear5_spark.pipeline.apply import count_and_discover, extend_from_counts
    from gear5_spark.pipeline.runner import bootstrap_table, make_applier
    from gear5_spark.sources.changelog import read_changelog

    def run_case(tag: str, n_new_keys: int) -> int:
        log = str(tmp_path / f"log-{tag}")
        payloads = [
            {"role": "user", "text": f"t{i}",
             **{f"newk_{tag}_{j}": j for j in range(n_new_keys)}}
            for i in range(50)
        ]
        _write_log(log, payloads)
        table = bootstrap_table(spark, str(tmp_path / f"tab-{tag}"), n_buckets=4)
        applier = make_applier(table, str(tmp_path / f"ckpt-{tag}"))
        batch = read_changelog(spark, log)
        group = f"reg-jobs-{tag}"
        spark.sparkContext.setJobGroup(group, tag)
        try:
            _, counts = count_and_discover(batch)
            reg = extend_from_counts(batch, applier.load_registry(), counts)
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        for j in range(n_new_keys):
            assert any(
                f["source"] == f"newk_{tag}_{j}" for f in reg.values()
            ), f"key newk_{tag}_{j} not discovered"
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    jobs_one = run_case("one", 1)
    jobs_many = run_case("many", 8)
    assert jobs_one == jobs_many, (jobs_one, jobs_many)
    # two aggregates (discovery + sampling), each split in two by AQE
    assert jobs_many <= 4
