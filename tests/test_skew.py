"""Skew handling (SURVEY.md §4 skew row, §5.5): a hot conv_id carrying
~50% of all events must not break correctness, salted or not."""

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


@pytest.mark.parametrize("salt", [1, 16])
def test_skewed_replay_matches_oracle(spark, skewed_changelog, tmp_path, salt):
    d, manifest = skewed_changelog
    table = bootstrap_table(spark, str(tmp_path / f"t{salt}"), n_buckets=8)
    ckpt = str(tmp_path / f"c{salt}")
    replay_batch(
        spark, d, table, ckpt,
        applier=make_applier(table, ckpt, salt_buckets=salt),
    )
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


def test_sessionize_hot_key_guard_exact(spark):
    """VERDICT r2 #7: the chunked hot-key sessionizer must emit output
    bit-identical to the single-window formulation on a corpus where one
    key holds ~30% of events, including sessions that SPAN chunk
    boundaries, while bounding per-task row counts."""
    import datetime as dt

    from pyspark.sql import functions as F

    from gear5_spark.operators.conversations import gap_sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    # hot key: 3000 events, bursts separated by > gap, spanning many
    # split intervals; sessions deliberately cross interval boundaries
    # (an event lands 10s before midnight, the next 10s after)
    t = base
    for i in range(3000):
        if i % 97 == 0:
            t += dt.timedelta(hours=2)  # new session
        elif i % 50 == 0:
            # hop to just before an interval boundary, small gap across
            day = t.replace(hour=0, minute=0, second=0, microsecond=0)
            t = day + dt.timedelta(hours=23, minutes=59, seconds=50)
        else:
            t += dt.timedelta(seconds=30)
        rows.append(("hot", t))
    # cold keys: 7000 events over 70 keys
    for k in range(70):
        t = base + dt.timedelta(minutes=k)
        for i in range(100):
            t += dt.timedelta(seconds=20 if i % 10 else 4000)
            rows.append((f"cold{k}", t))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")

    plain = gap_sessionize(df, gap_sec=1800)
    guarded = gap_sessionize(
        df, gap_sec=1800, hot_key_budget=1000, split_interval_sec=86_400
    )
    a = {
        (r["user_id"], r["ts"], r["session_idx"]) for r in plain.collect()
    }
    b = {
        (r["user_id"], r["ts"], r["session_idx"]) for r in guarded.collect()
    }
    assert a == b
    # the guard really engaged: hot rows split across >1 chunk
    n_chunks = (
        df.filter("user_id = 'hot'")
        .select(
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp"))
                / (86_400 * 1_000_000)
            ).alias("c")
        )
        .distinct()
        .count()
    )
    assert n_chunks > 3


def test_sessionize_hot_key_guard_keeps_null_keys(spark):
    """NULL keys must survive the hot-key guard on the single-window
    path (isin() is NULL for them — naive routing drops them from both
    branches)."""
    import datetime as dt

    from gear5_spark.operators.conversations import gap_sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [("hot", base + dt.timedelta(seconds=30 * i)) for i in range(200)]
    rows += [(None, base + dt.timedelta(hours=i)) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = gap_sessionize(df, gap_sec=1800, hot_key_budget=50,
                         split_interval_sec=3600)
    assert out.filter("user_id IS NULL").count() == 5
    plain = gap_sessionize(df, gap_sec=1800)
    a = {(r["user_id"], r["ts"], r["session_idx"]) for r in plain.collect()}
    b = {(r["user_id"], r["ts"], r["session_idx"]) for r in out.collect()}
    assert a == b
