"""Merge-on-read mode: delta apply + reconstruct + compaction equivalence
vs the serial oracle."""

from __future__ import annotations

from gear5_spark.lake.mor import compact
from gear5_spark.pipeline.runner import bootstrap_table, make_applier, run_stream
from tests.oracle import oracle_rows

COMPARE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _assert_matches(table, changelog_dir):
    got = [
        r.asDict()
        for r in table.read()
        .select(*COMPARE_COLS)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = oracle_rows(changelog_dir)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for c in COMPARE_COLS:
            assert g[c] == w[c], (g, w, c)


def test_mor_streaming_replay_matches_oracle(spark, tiny_changelog, tmp_path):
    changelog_dir, _ = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    applier = make_applier(
        table, str(tmp_path / "ckpt"), sink_mode="mor", compact_every=0
    )
    run_stream(
        spark, changelog_dir, table, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1, applier=applier, timeout_sec=600,
    )
    # deltas resident, never compacted -> read must reconstruct
    snap = table.snapshot()
    assert any(f.get("kind") == "delta" for f in snap.files)
    _assert_matches(table, changelog_dir)

    # compaction folds everything into base; state unchanged
    compact(table)
    snap2 = table.snapshot()
    assert not any(f.get("kind") == "delta" for f in snap2.files)
    _assert_matches(table, changelog_dir)
    # second compact is a no-op
    assert compact(table) is None


def test_mor_periodic_compaction(spark, tiny_changelog, tmp_path):
    changelog_dir, _ = tiny_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    applier = make_applier(
        table, str(tmp_path / "ckpt"), sink_mode="mor", compact_every=2
    )
    run_stream(
        spark, changelog_dir, table, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1, applier=applier, timeout_sec=600,
    )
    _assert_matches(table, changelog_dir)
    # delta count is bounded by the compaction interval
    resident = sum(
        1 for f in table.snapshot().files if f.get("kind") == "delta"
    )
    assert resident <= 2 * 8  # <= compact_every batches of <= n_buckets files


def test_mor_delete_tombstones_drop_rows(spark, tmp_path):
    """Keys whose latest delta op is delete must vanish from reads even
    before compaction."""
    from gen_fixtures import generate_changelog
    from gear5_spark.sources.changelog import read_changelog

    log = str(tmp_path / "log")
    generate_changelog(log, n_events=3000, n_convs=40, chunk_rows=1000)
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    applier = make_applier(
        table, str(tmp_path / "ckpt"), sink_mode="mor", compact_every=0
    )
    applier(read_changelog(spark, log, max_lsn=1499), 0)
    applier(read_changelog(spark, log, min_lsn=1499), 1)
    _assert_matches(table, log)


def test_mor_null_lsn_delta_wins_like_cow(spark, tmp_path):
    """CoW's order guard makes a NULL-lsn batch row WIN
    (coalesce(b>=t, True)); MoR reconstruction must order identically,
    or the two sink modes return different rows for the same feed."""
    from pyspark.sql import types as T

    from gear5_spark.lake.mor import merge_delta
    from gear5_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("_cdc_lsn", T.StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=schema, key_columns=["k"],
        n_buckets=2,
    )
    from gear5_spark.lake.merge import merge_into

    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, "100", "insert")],
            "k string, v long, _cdc_lsn string, op string",
        ),
    )
    merge_delta(
        t,
        spark.createDataFrame(
            [("a", 2, None, "update")],
            "k string, v long, _cdc_lsn string, op string",
        ),
    )
    got = {r["k"]: r["v"] for r in t.read().select("k", "v").collect()}
    assert got == {"a": 2}  # NULL-lsn delta wins, matching CoW


def test_mor_without_lsn_column_reads_like_cow(spark, tmp_path):
    """A table with no _cdc_lsn column: copy-on-write merges degrade to
    batch-wins (test_lake_table::test_guarded_merge_without_lsn_column),
    and so must merge-on-read reads and compaction — the delta wins over
    the base row and a delete delta drops it."""
    from pyspark.sql import types as T

    from gear5_spark.lake.merge import merge_into
    from gear5_spark.lake.mor import merge_delta
    from gear5_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "nolsn"), schema=schema, key_columns=["k"],
        n_buckets=2,
    )
    ddl = "k string, v long, op string"
    merge_into(
        t, spark.createDataFrame([("a", 1, "insert"), ("b", 1, "insert")], ddl)
    )
    merge_delta(t, spark.createDataFrame([("a", 2, "update")], ddl))
    merge_delta(t, spark.createDataFrame([("b", None, "delete")], ddl))
    merge_delta(t, spark.createDataFrame([("c", 3, "insert")], ddl))
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 2, "c": 3}
    compact(t)
    assert not any(f.get("kind") == "delta" for f in t.snapshot().files)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 2, "c": 3}
