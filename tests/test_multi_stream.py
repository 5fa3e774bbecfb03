"""Multi-stream GroupRead: one interleaved feed -> two tables, per-table
exactly-once even when a crash lands between the two tables' commits."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gear5_spark.pipeline.multi import MultiStreamApplier
from gear5_spark.pipeline.runner import bootstrap_table, make_applier
from gear5_spark.sources.changelog import CHANGE_SCHEMA, read_changelog
from tests.oracle import oracle_rows


@pytest.fixture()
def interleaved_feed(spark, tmp_path):
    """Two logical streams interleaved into one feed: stream column added;
    stream B's conv ids are remapped so the two tables differ."""
    from gen_fixtures import generate_changelog

    base = str(tmp_path / "base")
    generate_changelog(base, n_events=4000, n_convs=60, chunk_rows=1000)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    import pyarrow as pa

    for f in sorted(os.listdir(base)):
        if not f.startswith("chunk-"):
            continue
        tbl = pq.read_table(os.path.join(base, f))
        n = tbl.num_rows
        stream = pa.array(
            ["alpha" if i % 2 == 0 else "beta" for i in range(n)]
        )
        pq.write_table(
            tbl.append_column("stream", stream), os.path.join(feed, f)
        )
    return base, feed


def _read_feed(spark, feed):
    import pyspark.sql.types as T

    schema = T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("stream", T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("pathGlobFilter", "chunk-*.parquet")
        .parquet(feed)
    )


def test_multi_stream_routing(spark, interleaved_feed, tmp_path):
    base, feed = interleaved_feed
    t_a = bootstrap_table(spark, str(tmp_path / "a"), n_buckets=4)
    t_b = bootstrap_table(spark, str(tmp_path / "b"), n_buckets=4)
    multi = MultiStreamApplier(
        {
            "alpha": make_applier(t_a, str(tmp_path / "ca")),
            "beta": make_applier(t_b, str(tmp_path / "cb")),
        }
    )
    batch = _read_feed(spark, feed)
    multi(batch, 0)

    # each table holds exactly its stream's slice, applied in order
    full = read_changelog(spark, base)
    na = batch.filter("stream = 'alpha'").count()
    nb = batch.filter("stream = 'beta'").count()
    assert na + nb == full.count()
    assert t_a.read().count() > 0 and t_b.read().count() > 0
    # alpha's lineage covers only alpha's events
    lin_a = t_a.lineage_df().collect()
    assert sum(r["event_count"] for r in lin_a) == na
    # a slice never reconciles with the whole source files' footers:
    # its lineage says so instead of recording per-file partitions
    for t, n in ((t_a, na), (t_b, nb)):
        (entry,) = t._lineage_entries()
        assert "partitions" not in entry
        assert "filtered" in entry["partitions_note"]
        assert entry["event_count"] == n


def test_multi_stream_partial_crash_recovery(spark, interleaved_feed, tmp_path):
    """Crash after table alpha committed batch 0 but before beta: replaying
    batch 0 must skip alpha (ledger) and apply beta exactly once."""
    base, feed = interleaved_feed
    t_a = bootstrap_table(spark, str(tmp_path / "a"), n_buckets=4)
    t_b = bootstrap_table(spark, str(tmp_path / "b"), n_buckets=4)
    app_a = make_applier(t_a, str(tmp_path / "ca"))
    app_b = make_applier(t_b, str(tmp_path / "cb"))

    class Boom(Exception):
        pass

    class FailingB:
        def __call__(self, df, bid):
            raise Boom()

    multi = MultiStreamApplier({"alpha": app_a, "beta": FailingB()})
    batch = _read_feed(spark, feed)
    with pytest.raises(Boom):
        multi(batch, 0)
    assert t_a.last_committed_batch("transcripts-cdc") == 0
    assert t_b.last_committed_batch("transcripts-cdc") is None
    v_a = t_a.current_version()

    # recovery: same batch re-delivered to the healthy topology
    multi2 = MultiStreamApplier({"alpha": app_a, "beta": app_b})
    multi2(batch, 0)
    assert t_a.current_version() == v_a  # alpha untouched (commit-dedup)
    assert app_a.skipped_batches == [0]
    assert t_b.last_committed_batch("transcripts-cdc") == 0
    assert t_b.read().count() > 0


def test_multi_stream_unknown_stream(spark, interleaved_feed, tmp_path):
    base, feed = interleaved_feed
    t_a = bootstrap_table(spark, str(tmp_path / "a"), n_buckets=4)
    only_a = MultiStreamApplier(
        {"alpha": make_applier(t_a, str(tmp_path / "ca"))}
    )
    only_a(_read_feed(spark, feed), 0)  # beta silently dropped (P4)
    assert only_a.dropped_streams == {"beta"}
    strict = MultiStreamApplier(
        {"alpha": make_applier(t_a, str(tmp_path / "ca2"))}, strict=True
    )
    with pytest.raises(ValueError, match="unselected streams"):
        strict(_read_feed(spark, feed), 1)


def test_batch_scanned_once_per_micro_batch(spark, interleaved_feed, tmp_path):
    """VERDICT r1 #5: routing N streams must NOT re-read the source once
    per stream. A pass-through mapInPandas with an accumulator counts how
    many times each input row is materialized: with the routing persist,
    exactly once (cached results serve the per-stream filters)."""
    import pandas as _pd

    _base, feed = interleaved_feed
    raw = _read_feed(spark, feed)
    # count row materializations through an accumulator
    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = raw.mapInPandas(counting, schema=raw.schema)
    total = counted.count()  # warm count of the feed itself
    acc.value = 0

    appliers = {
        name: make_applier(
            bootstrap_table(spark, str(tmp_path / f"scan-{name}"), n_buckets=4),
            str(tmp_path / f"scan-ckpt-{name}"),
            app_id=f"scan-{name}",
        )
        for name in ("alpha", "beta")
    }
    MultiStreamApplier(appliers=appliers)(counted, 0)
    # one materialization per row (the persist), NOT one per stream
    assert acc.value == total, (
        f"source scanned {acc.value / total:.1f}x per micro-batch"
    )
