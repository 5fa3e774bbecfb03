"""Skew handling (SURVEY.md §4 skew row, §5.5): a hot conv_id carrying
~50% of all events must not break correctness, and the table's full-key
placement keeps per-task rows bounded."""

from __future__ import annotations

import pytest

from gear5_spark.pipeline.runner import (
    bootstrap_table,
    make_applier,
    replay_batch,
)
from tests.oracle import oracle_rows


@pytest.fixture(scope="module")
def skewed_changelog(tmp_path_factory):
    from gen_fixtures import generate_changelog

    d = str(tmp_path_factory.mktemp("changelog-skew") / "log")
    manifest = generate_changelog(
        d, n_events=10_000, n_convs=50, chunk_rows=2_500, skew_frac=0.5
    )
    return d, manifest


def test_hot_key_fixture_is_actually_skewed(skewed_changelog):
    import collections

    import pyarrow.parquet as pq
    import glob

    d, manifest = skewed_changelog
    counts: collections.Counter = collections.Counter()
    for p in glob.glob(f"{d}/chunk-*.parquet"):
        for c in pq.read_table(p, columns=["conv_id"])["conv_id"].to_pylist():
            counts[c] += 1
    hot_share = counts[manifest["hot_conv"]] / manifest["n_events"]
    assert hot_share > 0.35  # the fixture really is pathological


def test_skewed_replay_matches_oracle(spark, skewed_changelog, tmp_path):
    d, manifest = skewed_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    ckpt = str(tmp_path / "c")
    replay_batch(spark, d, table, ckpt, applier=make_applier(table, ckpt))
    got = [
        r.asDict()
        for r in table.read()
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = oracle_rows(d)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["text"] == w["text"]


def test_placement_bounds_per_task_rows_under_skew(
    spark, skewed_changelog, tmp_path
):
    """SURVEY.md §5 test 5: per-task work stays bounded under skew. The
    table buckets on the full key (conv_id, turn_idx), so the hot
    conversation's events spread over its many turns and the busiest
    placement slot carries about the mean."""
    from pyspark.sql import functions as F

    from gear5_spark.sources.changelog import read_changelog

    d, manifest = skewed_changelog
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    snap = table.snapshot()
    placed, p = table.place(read_changelog(spark, d), snap)
    per_task = [
        r["n"]
        for r in placed.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert sum(per_task) == manifest["n_events"]
    assert max(per_task) <= 1.25 * manifest["n_events"] / p.n_slots, per_task
