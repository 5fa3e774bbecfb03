"""Focused tests for the co-partitioned MERGE (lake/merge.py): every
copy-on-write batch — the applier's, or one handed to ``merge_into``
unplaced — is placed by the table and merged by one full-outer join on
``[_pslot, *key]`` with no planner-inserted exchange; results match the
serial oracle, and a placement that no longer matches the table is
placed again."""

import pytest
from pyspark.sql import functions as F

from gen_fixtures import generate_changelog
from gear5_spark.pipeline.runner import (
    bootstrap_table,
    make_applier,
    replay_batch,
)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("coplog") / "log"
    generate_changelog(
        str(d), n_events=6000, n_convs=120, chunk_rows=1500, seed=11
    )
    return str(d)


def _texts(rows):
    return sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in rows)


def test_copartitioned_merge_matches_oracle(spark, log_dir, tmp_path):
    # phase 1 fills the target; phase 2 exercises the guarded merge
    # against a NON-empty target
    from tests.oracle import oracle_rows

    want = _texts(oracle_rows(log_dir))
    assert want
    t = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    for lo, hi in ((None, 2999), (2999, None)):
        ckpt = str(tmp_path / f"ck{hi}")
        replay_batch(
            spark, log_dir, t, ckpt, min_lsn=lo, max_lsn=hi,
            applier=make_applier(t, ckpt),
        )
    assert _texts(t.read().collect()) == want


@pytest.mark.parametrize("case", ["fused", "direct"])
def test_copartitioned_merge_plan_shape(spark, log_dir, tmp_path, case):
    # the guarded merge's write input: ONE full-outer join, built as a
    # shuffled-hash join on the batch side, with no exchange between the
    # placed batch and the join
    import gear5_spark.lake.table as LT
    from gear5_spark.lake.merge import merge_into
    from gear5_spark.operators.dedup import latest_per_key
    from gear5_spark.pipeline.runner import make_applier
    from gear5_spark.sources.changelog import read_changelog

    t = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    replay_batch(
        spark, log_dir, t, checkpoint_dir=str(tmp_path / "ck0"),
        max_lsn=2999,
    )
    if case == "direct":
        # a batch built from local rows: no upstream shuffle, no _pslot
        rows = (
            latest_per_key(
                read_changelog(spark, log_dir, min_lsn=2999),
                ["conv_id", "turn_idx"],
            )
            .select(
                "conv_id", "turn_idx", "op",
                F.col("lsn").cast("string").alias("_cdc_lsn"),
            )
            .collect()
        )
        batch = spark.createDataFrame(rows)
    captured = {}
    orig = LT.LakeTable.write_data_files

    def spy(self, df, *a, **k):
        captured.setdefault("plan", df._jdf.queryExecution().executedPlan().toString())
        return orig(self, df, *a, **k)

    LT.LakeTable.write_data_files = spy
    try:
        if case == "direct":
            merge_into(t, batch)
        else:
            applier = make_applier(t, str(tmp_path / "ck1"))
            applier(read_changelog(spark, log_dir, min_lsn=2999), 1)
    finally:
        LT.LakeTable.write_data_files = orig
    plan = captured["plan"]
    assert plan.count("ShuffledHashJoin") == 1 and "FullOuter" in plan, plan
    joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin")
    )
    assert joins == 0, plan
    # no planner-inserted exchange: every shuffle left in the plan is an
    # explicit _pslot placement repartition (a key-shuffled merge
    # re-shuffles BOTH join sides by key via ENSURE_REQUIREMENTS)
    planned = [
        line for line in plan.splitlines() if "ENSURE_REQUIREMENTS" in line
    ]
    assert planned == [], plan
    assert "direct_shuffle_partition_id(_pslot" in plan, plan


@pytest.mark.parametrize("sink_mode", ["cow", "mor"])
def test_bucket_column_change_falls_back(spark, log_dir, tmp_path, sink_mode):
    # the applier places the batch under the snapshot it starts from; a
    # layout change that keeps the bucket count but swaps the bucket
    # columns lands before the write. The stale placement must not be
    # trusted: the write repartitions under the new layout instead of
    # tripping the footer scan's one-slot-per-file check.
    import gear5_spark.lake.mor as mor
    import gear5_spark.pipeline.apply as apply
    from gear5_spark.pipeline.runner import make_applier
    from gear5_spark.sources.changelog import read_changelog
    from tests.oracle import oracle_rows

    t = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    applier = make_applier(
        t, str(tmp_path / "ck"), sink_mode=sink_mode, compact_every=0
    )

    def relayout():
        snap = t.snapshot()
        props = dict(snap.properties, bucket_columns=["conv_id"])
        t.commit(files=snap.files, properties=props, basis=snap)

    owner, name = (mor, "merge_delta") if sink_mode == "mor" else (apply, "merge_into")
    orig = getattr(owner, name)

    def racing(*a, **k):
        relayout()
        return orig(*a, **k)

    setattr(owner, name, racing)
    try:
        applier(read_changelog(spark, log_dir), 0)
    finally:
        setattr(owner, name, orig)

    assert t.snapshot().properties["bucket_columns"] == ["conv_id"]
    df = t.read()
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in df.select("conv_id", "turn_idx", "text").collect()
    )
    want = sorted(
        (w["conv_id"], w["turn_idx"], w["text"]) for w in oracle_rows(log_dir)
    )
    assert got == want
