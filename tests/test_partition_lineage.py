"""Per-source-partition lineage: each committed micro-batch records,
per input file, its lsn offset range + row count (from parquet footer
stats, no extra Spark job), exposed as a metrics table."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_partition_lineage_recorded(spark, tiny_changelog, tmp_path):
    from gear5_spark.pipeline.runner import bootstrap_table, run_stream

    log_dir, manifest = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    run_stream(
        spark,
        log_dir,
        table,
        checkpoint_dir=str(tmp_path / "c"),
        max_files_per_trigger=2,
        timeout_sec=600,
    )
    entries = table._lineage_entries()
    assert entries, "expected committed batches"
    for e in entries:
        parts = e.get("partitions")
        assert parts, f"batch {e['batch_id']} missing partitions"
        # footer row counts sum to the batch's observed event count
        assert sum(p["rows"] for p in parts) == e["event_count"]
        # per-file offset ranges nest inside the batch range
        assert min(p["lsn_min"] for p in parts) == e["lsn_min"]
        assert max(p["lsn_max"] for p in parts) == e["lsn_max"]
        for p in parts:
            assert p["path"].endswith(".parquet")
    # metrics-table surface: one row per (batch, file), ranges disjoint
    # across the LSN-ordered chunk files
    pl = table.partition_lineage_df()
    n_files = pl.select("path").distinct().count()
    assert pl.count() == sum(len(e["partitions"]) for e in entries)
    assert n_files == manifest["chunks"]
    joined = (
        pl.alias("a")
        .join(pl.alias("b"), F.col("a.path") < F.col("b.path"))
        .filter(
            (F.col("a.lsn_min") <= F.col("b.lsn_max"))
            & (F.col("b.lsn_min") <= F.col("a.lsn_max"))
        )
    )
    assert joined.count() == 0


def test_partition_lineage_bulk_path(spark, tiny_changelog, tmp_path):
    """The bulk replay resolves provenance from the plan's file index
    (DataFrame.inputFiles) — every chunk appears, counts reconcile."""
    from gear5_spark.pipeline.runner import bootstrap_table, replay_batch

    log_dir, manifest = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    replay_batch(
        spark, log_dir, table, checkpoint_dir=str(tmp_path / "c")
    )
    (entry,) = table._lineage_entries()
    parts = entry["partitions"]
    assert len(parts) == manifest["chunks"]
    assert sum(p["rows"] for p in parts) == entry["event_count"]


def test_partition_lineage_omitted_for_filtered_batches(spark, tiny_changelog, tmp_path):
    """An lsn-bounded replay filters its source files, so whole-file
    footer stats no longer describe the batch — provenance is omitted
    with an explanatory note, never recorded wrong."""
    from gear5_spark.pipeline.runner import bootstrap_table, replay_batch

    log_dir, manifest = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    replay_batch(
        spark, log_dir, table, checkpoint_dir=str(tmp_path / "c"),
        max_lsn=manifest["n_events"] // 2,
    )
    (entry,) = table._lineage_entries()
    assert "partitions" not in entry
    assert "filtered" in entry.get("partitions_note", "")


def test_partition_lineage_absent_for_memory_batches(spark, tmp_path):
    from gear5_spark.pipeline.runner import bootstrap_table, make_applier

    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(table, str(tmp_path / "c"), app_id="mem")
    batch = spark.createDataFrame(
        [
            (1, 1, 0, "insert", 1000, "c-1", 0, '{"role":"user","text":"x","ts":1}'),
        ],
        "lsn long, txn_id long, txn_seq int, op string, ts_ms long, "
        "conv_id string, turn_idx int, after_json string",
    )
    applier(batch, 0)
    (entry,) = table._lineage_entries()
    assert "partitions" not in entry  # no file provenance -> no rows
    assert table.partition_lineage_df().count() == 0


def test_partition_lineage_caps_and_unreadable(tmp_path):
    """Pure-metadata unit behavior: record cap vs read cap vs
    unreadable files — caps surface, failures poison reconciliation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gear5_spark.pipeline.apply import _partition_lineage

    files = []
    for i in range(3):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"lsn": [i * 10, i * 10 + 1]}), p)
        files.append(p)

    prov = _partition_lineage(files, record_cap=2, read_cap=10)
    assert len(prov.recorded) == 2 and prov.truncated == 1
    assert prov.total_rows == 6  # ALL footers read for reconciliation
    assert prov.note is None

    prov = _partition_lineage(files, record_cap=2, read_cap=2)
    assert prov.note and "read cap" in prov.note and not prov.recorded

    bad = str(tmp_path / "bad.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"garbage")
    prov = _partition_lineage(files + [bad], record_cap=10, read_cap=10)
    assert prov.total_rows == -1
    assert prov.note and "unreadable" in prov.note
