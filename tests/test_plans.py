"""Physical-plan regression guards: the properties that make the engine
scale must be visible in `explain` — filters pushed to the parquet scan,
map-side partial aggregation on the dedup, exactly one join in the merge.
These lock in what SCALING.md claims."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pyspark.sql.functions as F
import pytest

from gen_fixtures import generate_changelog
from gear5_spark.sources.changelog import read_changelog


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "log")
    generate_changelog(d, n_events=2_000, n_convs=40, chunk_rows=500)
    return d


def test_cursor_predicate_pushed_to_scan(spark, log_dir):
    df = read_changelog(spark, log_dir, min_lsn=500)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(lsn,500)" in plan.replace(" ", "")


def test_column_pruning_reaches_read_schema(spark, log_dir):
    df = read_changelog(spark, log_dir).select("lsn", "conv_id")
    plan = _plan(df)
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "lsn" in read_schema and "conv_id" in read_schema
    assert "after_json" not in read_schema  # unused columns never read


def test_dedup_has_partial_aggregation(spark, log_dir):
    from gear5_spark.operators.dedup import latest_per_key

    df = latest_per_key(read_changelog(spark, log_dir), ["conv_id", "turn_idx"])
    plan = _plan(df, mode="simple")
    # partial (map-side) aggregate BEFORE the exchange, merge after — a
    # hot key collapses per input partition instead of flooding a reducer
    assert "partial_max_by" in plan or "partial_max" in plan
    assert plan.count("Exchange") <= 2  # key shuffle (+AQE read), no extra


def test_merge_plans_exactly_one_join(spark, log_dir, tmp_path):
    from gear5_spark.lake.merge import _guarded_merge
    from gear5_spark.pipeline.runner import bootstrap_table, replay_batch
    from pyspark.sql import types as T

    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    replay_batch(spark, log_dir, table, str(tmp_path / "c"), max_lsn=999)
    snap = table.snapshot()
    target = table.read(with_internal=True)
    batch = (
        read_changelog(spark, log_dir, min_lsn=999)
        .limit(50)
        .withColumn("_bucket", table.bucket_expr(snap))
        .withColumn("_cdc_lsn", F.col("lsn").cast("string"))
    )
    write_schema = T.StructType(
        list(snap.schema.fields)
        + [T.StructField("_bucket", T.IntegerType(), True)]
    )
    merged = _guarded_merge(
        target, batch, ["conv_id", "turn_idx"], ["conv_id", "turn_idx"],
        "op", False, write_schema,
    )
    plan = _plan(merged, mode="simple")
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin",
                                        "BroadcastHashJoin"))
    # the per-row CASE picks the winning side, so the full-outer join
    # executes ONCE (a filter+union formulation would run it twice)
    assert joins == 1


def test_merge_into_runs_one_plan(spark, log_dir, tmp_path):
    """Copy-on-write MERGE against a non-empty table has one physical
    formulation: one full-outer join, no anti-join."""
    import gear5_spark.lake.table as LT
    from gear5_spark.lake.merge import merge_into
    from gear5_spark.pipeline.runner import bootstrap_table, replay_batch

    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=4)
    replay_batch(spark, log_dir, table, str(tmp_path / "c"), max_lsn=999)
    batch = (
        read_changelog(spark, log_dir, min_lsn=999)
        .limit(50)
        .select(
            "conv_id", "turn_idx", "op",
            F.col("lsn").cast("string").alias("_cdc_lsn"),
        )
    )
    captured = []
    orig = LT.LakeTable.write_data_files

    def spy(self, df, *a, **k):
        captured.append(_plan(df, mode="simple"))
        return orig(self, df, *a, **k)

    LT.LakeTable.write_data_files = spy
    try:
        merge_into(table, batch)
    finally:
        LT.LakeTable.write_data_files = orig
    (plan,) = captured
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin",
                                        "BroadcastHashJoin"))
    assert joins == 1
    assert "LeftAnti" not in plan
    assert "FullOuter" in plan


def _mor_table(spark, log_dir, root, n_buckets):
    """A merge-on-read stream over the log, deltas left resident."""
    from gear5_spark.pipeline.runner import bootstrap_table, make_applier, run_stream

    table = bootstrap_table(spark, str(root / "t"), n_buckets=n_buckets)
    applier = make_applier(
        table, str(root / "ckpt"), sink_mode="mor", compact_every=0
    )
    run_stream(
        spark, log_dir, table, checkpoint_dir=str(root / "ckpt"),
        max_files_per_trigger=1, applier=applier, timeout_sec=600,
    )
    return table


def _scan_paths_by_sort_aggregate(df) -> tuple[set[str], set[str]]:
    """File names scanned under some ``SortAggregate`` of ``df``'s
    physical plan, and those scanned outside every one."""
    # the adaptive plan's current physical plan, before execution
    plan = df._jdf.queryExecution().executedPlan().executedPlan()
    under, outside = set(), set()

    def walk(node, aggregated):
        kind = node.getClass().getSimpleName()
        aggregated = aggregated or kind == "SortAggregateExec"
        if kind == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            names = {roots.apply(i).getName() for i in range(roots.size())}
            (under if aggregated else outside).update(names)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), aggregated)

    walk(plan, False)
    return under, outside


def test_compaction_runs_the_guarded_merge_plan(spark, log_dir, tmp_path):
    """Compaction is the copy-on-write guarded merge: its write input
    plans one full-outer join of the base rows with each key's winning
    delta, aggregates delta rows only (base rows stream past the
    winners' hash table), and is written pre-placed at the merge-on-read
    slot count instead of being placed again by the write."""
    import gear5_spark.lake.table as LT
    from gear5_spark.lake.mor import compact
    from gear5_spark.parallel import shuffle_width
    from gear5_spark.lake.mor import merge_delta

    table = _mor_table(spark, log_dir, tmp_path, n_buckets=4)
    compact(table)  # a base to merge against
    merge_delta(
        table,
        table.read()
        .limit(20)
        .withColumn("text", F.lit("rewritten"))
        .withColumn("_cdc_lsn", F.lit("99999"))
        .withColumn("op", F.lit("update")),
    )
    from gear5_spark.lake.table import entry_buckets, touches

    snap = table.snapshot()
    delta_files = [f for f in snap.files if f.get("kind") == "delta"]
    hit = {b for f in delta_files for b in entry_buckets(f)}
    deltas = {os.path.basename(f["path"]) for f in delta_files}
    base = {
        os.path.basename(f["path"])
        for f in snap.files
        if f.get("kind") != "delta" and touches(f, hit)
    }
    assert base and deltas
    captured = []
    orig = LT.LakeTable.write_data_files

    def spy(self, df, *a, **k):
        captured.append((_plan(df, mode="simple"), _scan_paths_by_sort_aggregate(df), k))
        return orig(self, df, *a, **k)

    LT.LakeTable.write_data_files = spy
    try:
        compact(table)
    finally:
        LT.LakeTable.write_data_files = orig
    ((plan, (aggregated, streamed), kwargs),) = captured
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin",
                                        "BroadcastHashJoin"))
    assert joins == 1 and "FullOuter" in plan
    assert aggregated and aggregated <= deltas
    assert base <= streamed
    assert kwargs["pre_placed"] == table.placement(snap, shuffle_width(spark))
    assert table.read().filter(F.col("text") == "rewritten").count() == 20


def test_32_bucket_compaction_writes_at_most_width_files(spark, log_dir, tmp_path):
    from gear5_spark.lake.mor import compact
    from gear5_spark.parallel import shuffle_width
    from tests.oracle import oracle_rows

    table = _mor_table(spark, log_dir, tmp_path, n_buckets=32)
    compact(table)
    files = table.snapshot().files
    assert not any(f.get("kind") == "delta" for f in files)
    assert len(files) <= shuffle_width(spark) == 8
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = [
        tuple(r)
        for r in table.read().select(*cols).orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == [tuple(w[c] for c in cols) for w in oracle_rows(log_dir)]


def test_mor_lookup_pushes_its_key_to_both_scans(spark, tmp_path):
    """A point lookup on a table with base and delta files filters every
    stored version of the key at the parquet scan, below the merge —
    the merge's full-outer join would otherwise stop the predicate and
    the lookup would reconstruct its whole bucket."""
    from pyspark.sql import types as T

    from gear5_spark.lake.merge import merge_into
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
        spark, str(tmp_path / "kv"), schema=schema, key_columns=["k"], n_buckets=2
    )
    ddl = "k string, v long, _cdc_lsn string, op string"
    merge_into(t, spark.createDataFrame([("a", 1, "1", "insert")], ddl))
    merge_delta(t, spark.createDataFrame([("a", 2, "2", "update")], ddl))
    df = t.lookup(k="a")
    scans = [ln for ln in _plan(df, mode="simple").splitlines() if "FileScan" in ln]
    assert len(scans) == 2
    assert all("EqualTo(k,a)" in ln for ln in scans)
    assert [r["v"] for r in df.collect()] == [2]


def test_merge_into_joins_only_when_its_scope_holds_a_file(spark, tmp_path, monkeypatch):
    """A merge into buckets that hold no file writes the batch without
    the guarded merge; one whose scope holds a file runs it once. A plan
    check cannot pin this branch: without it the optimizer plans the
    join against an empty scope away too, but every backfill run got
    slower (see the branch's comment in ``merge_into``)."""
    from pyspark.sql import types as T

    import gear5_spark.lake.merge as M
    from gear5_spark.lake.table import LakeTable

    calls = []
    orig = M._guarded_merge

    def spy(*a, **k):
        calls.append(a)
        return orig(*a, **k)

    monkeypatch.setattr(M, "_guarded_merge", spy)
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("_cdc_lsn", T.StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "kv"), schema=schema, key_columns=["k"], n_buckets=1
    )
    ddl = "k string, v long, _cdc_lsn string, op string"
    M.merge_into(t, spark.createDataFrame([("a", 1, "1", "insert")], ddl))
    assert calls == []
    M.merge_into(t, spark.createDataFrame([("b", 2, "2", "insert")], ddl))
    assert len(calls) == 1
    assert sorted(r["k"] for r in t.read().collect()) == ["a", "b"]
