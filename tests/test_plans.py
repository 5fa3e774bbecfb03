"""Physical-plan regression guards: the properties that make the engine
scale must be visible in `explain` — filters pushed to the parquet scan,
map-side partial aggregation on the dedup, exactly one join in the merge.
These lock in what SCALING.md claims."""

from __future__ import annotations

import io
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
        "op", "hard", write_schema,
    )
    plan = _plan(merged, mode="simple")
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin",
                                        "BroadcastHashJoin"))
    # the per-row CASE picks the winning side, so the full-outer join
    # executes ONCE (a filter+union formulation would run it twice)
    assert joins == 1
