"""Predicate deletes (DELETE WHERE): bucket-granular rewrite, MoR
fold-in, null semantics, and the full GDPR erasure path."""

from __future__ import annotations

import os
import subprocess

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.delete import delete_where
from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
        T.StructField("_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_cdc_deleted_at", T.TimestampType(), True),
    ]
)

_BATCH_SCHEMA = T.StructType(
    list(SCHEMA.fields) + [T.StructField("op", T.StringType(), False)]
)


def _merge(spark, table, rows):
    merge_into(
        table,
        spark.createDataFrame(
            [(k, v, str(lsn), None, None, "insert") for (k, v, lsn) in rows],
            _BATCH_SCHEMA,
        ),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=SCHEMA, key_columns=["k"],
        n_buckets=4,
    )
    _merge(spark, t, [(f"k{i}", i, i) for i in range(12)])
    return t


def test_delete_where_removes_matches_atomically(spark, table):
    v0 = table.current_version()
    before_paths = {f["path"] for f in table.snapshot().files}
    snap, n = delete_where(table, F.col("v") >= 9)
    assert n == 3 and snap.version == v0 + 1
    ks = sorted(r["k"] for r in table.read().collect())
    assert ks == [f"k{i}" for i in range(9)]
    # untouched buckets keep their exact files (bucket-granular rewrite)
    after_paths = {f["path"] for f in table.snapshot().files}
    assert before_paths & after_paths, "non-hit buckets must be carried over"
    # time travel still shows the old rows until expiration
    assert table.read(snapshot=table.snapshot(v0)).count() == 12


def test_delete_where_no_match_is_noop(spark, table):
    v0 = table.current_version()
    snap, n = delete_where(table, F.col("v") > 1000)
    assert n == 0 and snap.version == v0


def test_delete_where_null_predicate_keeps_rows(spark, table):
    # v IS NULL rows: predicate (v >= 0) evaluates NULL -> keep
    _merge(spark, table, [("knull", None, 100)])
    snap, n = delete_where(table, F.col("v") >= 0)
    assert n == 12
    assert [r["k"] for r in table.read().collect()] == ["knull"]


def test_delete_where_sql_string_and_lineage(spark, table):
    snap, n = delete_where(table, "v % 2 = 0")
    assert n == 6
    lin = {r["snapshot_version"]: r for r in table.lineage_df().collect()}
    assert lin[snap.version]["event_count"] == -6
    assert lin[snap.version]["txn_ids_hash"] == "delete_where"


def test_delete_where_mor_folds_deltas(spark, tmp_path):
    from gen_fixtures import generate_changelog
    from gear5_spark.pipeline.runner import bootstrap_table, make_applier
    from gear5_spark.sources.changelog import read_changelog

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=2000, n_convs=30, chunk_rows=1000)
    t = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(
        t, str(tmp_path / "ckpt"), sink_mode="mor", compact_every=0
    )
    applier(read_changelog(spark, log), 0)
    assert any(f.get("kind") == "delta" for f in t.snapshot().files)

    victim = t.read().first()["conv_id"]
    expect = t.read().filter(F.col("conv_id") != victim).count()
    snap, n = delete_where(t, F.col("conv_id") == victim)
    assert n > 0
    assert t.read().count() == expect
    assert t.read().filter(F.col("conv_id") == victim).count() == 0


def test_gdpr_full_erasure_path(spark, table):
    """delete -> rewrite_manifests -> expire -> vacuum leaves no trace
    of the value in ANY file under the table directory (data files,
    manifest stats, snapshot JSON)."""
    needle = "k7"
    delete_where(table, F.col("k") == needle)
    table.rewrite_manifests()
    # erasure is a writer-stopped maintenance flow: sweep manifests
    # without the in-flight grace, like vacuum's retention 0 here
    table.expire_snapshots(keep_last=1, manifest_retention_sec=0.0)
    table.vacuum(retention_sec=0.0)
    assert table.read().count() == 11
    hits = subprocess.run(
        ["grep", "-r", "-l", needle, table.table_dir],
        capture_output=True, text=True,
    )
    # zstd parquet stores short strings verbatim — grep finding nothing
    # (exit 1) proves physical erasure; lineage archive keeps only counts
    offenders = [
        p for p in hits.stdout.splitlines()
        if not p.endswith("lineage-archive.jsonl")
    ]
    assert not offenders, offenders


def test_cli_delete(spark, table, capsys):
    import json

    from gear5_spark.cli import main

    rc = main(["delete", "--table-dir", table.table_dir, "--where", "v >= 10"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["rows_deleted"] == 2
