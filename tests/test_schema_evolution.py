"""Additive schema evolution mid-stream (SURVEY.md ST7, §5.4).

The `tool` payload field appears only after the fixture's evolution LSN.
Before it appears the table must not have the column; after, the column
exists, old rows read as null (backfill), and the final state matches the
oracle. Narrowing changes are rejected (widening-lattice policy,
/root/reference/typeutils/fields.go:18-28).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from gear5_spark.lake.table import LakeTable, SchemaEvolutionError
from gear5_spark.operators.typing import can_widen, merge_schemas
from gear5_spark.pipeline.runner import bootstrap_table, replay_batch
from tests.oracle import oracle_rows


def test_tool_column_appears_mid_stream(spark, tiny_changelog, tmp_path):
    changelog_dir, manifest = tiny_changelog
    evolve = manifest["evolve_lsn"]
    table = bootstrap_table(spark, str(tmp_path / "t"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    # phase 1: pre-evolution events only -> no `tool` column anywhere
    replay_batch(spark, changelog_dir, table, ckpt, max_lsn=evolve - 1)
    assert "tool" not in [f.name for f in table.schema.fields]

    # phase 2: the rest -> additive column, old rows null-backfilled
    replay_batch(spark, changelog_dir, table, ckpt, min_lsn=evolve - 1)
    names = [f.name for f in table.schema.fields]
    assert "tool" in names
    df = table.read()
    assert df.filter(df.tool.isNotNull()).count() > 0
    assert df.filter(df.tool.isNull()).count() > 0

    got = [
        r.asDict()
        for r in df.select("conv_id", "turn_idx", "text", "tool")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = oracle_rows(changelog_dir)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["text"] == w["text"]
        assert g["tool"] == w["tool"]


def test_widening_lattice():
    # BOOL < INT64 < FLOAT64 < STRING > TIMESTAMP (typeutils/fields.go:18-28)
    assert can_widen(T.LongType(), T.StringType())
    assert can_widen(T.LongType(), T.DoubleType())
    assert not can_widen(T.StringType(), T.LongType())
    assert not can_widen(T.DoubleType(), T.LongType())


def test_merge_schemas_additive_and_widen():
    cur = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    inc = T.StructType(
        [
            T.StructField("a", T.DoubleType(), True),  # widen long -> double
            T.StructField("c", T.TimestampType(), True),  # new column
        ]
    )
    merged, changes = merge_schemas(cur, inc)
    by_name = {f.name: f.dataType for f in merged.fields}
    assert by_name == {
        "a": T.DoubleType(),
        "b": T.StringType(),
        "c": T.TimestampType(),
    }
    assert len(changes) == 2


def test_merge_schemas_rejects_narrowing():
    cur = T.StructType([T.StructField("a", T.StringType(), True)])
    inc = T.StructType([T.StructField("a", T.LongType(), True)])
    # string -> long is narrowing: existing type absorbs (no error, no change)
    merged, changes = merge_schemas(cur, inc)
    assert merged["a"].dataType == T.StringType()
    assert changes == []
    # timestamp vs double: incompatible both ways -> rejected
    cur2 = T.StructType([T.StructField("a", T.TimestampType(), True)])
    inc2 = T.StructType([T.StructField("a", T.BooleanType(), True)])
    with pytest.raises(SchemaEvolutionError):
        merge_schemas(cur2, inc2)


def test_create_rejects_bad_keys(spark, tmp_path):
    with pytest.raises(ValueError):
        LakeTable.create(
            spark,
            str(tmp_path / "bad"),
            schema=T.StructType([T.StructField("a", T.LongType())]),
            key_columns=["nope"],
        )
