"""In-place type widening (VERDICT r4 item 7).

The reference widens record types along the LCA lattice per batch
(``typeutils/fields.go:182-205``); here the lattice drives a
metadata-only schema commit: no data file is rewritten, kept manifests
are stamped with the written PHYSICAL type of each widened column
(``_build_manifest_list``), and ``read_file_entries`` opens each era
with its written types and casts up. Rewrite paths (merge, compaction)
re-type the files they touch, so eras decay back to one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import LakeTable, SchemaEvolutionError

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("w", T.LongType(), True),
        T.StructField("_cdc_lsn", T.StringType(), True),
    ]
)


def _batch_schema(v_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", v_type, True),
            T.StructField("w", T.LongType(), True),
            T.StructField("_cdc_lsn", T.StringType(), True),
            T.StructField("op", T.StringType(), False),
        ]
    )


def _mk(spark, tmp_path, name="t"):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        schema=SCHEMA,
        key_columns=["k"],
        n_buckets=4,
    )


def _rows(t):
    return {
        r["k"]: (r["v"], r["w"])
        for r in t.read().select("k", "v", "w").collect()
    }


def test_merge_widens_long_to_double_both_eras_read_back(spark, tmp_path):
    """A batch whose ``v`` arrives as double widens the table in place;
    rows written in the long era read back exactly through the cast."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, 10, "1", "insert"), ("b", 2, 20, "1", "insert")],
            _batch_schema(T.LongType()),
        ),
    )
    assert dict(t.schema["v"].jsonValue().items())["type"] == "long"

    merge_into(
        t,
        spark.createDataFrame(
            [("c", 2.5, 30, "2", "insert")], _batch_schema(T.DoubleType())
        ),
    )
    assert t.schema["v"].dataType == T.DoubleType()
    # era annotation present on the kept (pre-widen) manifests only
    snap = t.snapshot()
    phys = [m.get("physical") for m in snap.manifest_list]
    assert {"v": "bigint"} in phys
    assert any(p is None for p in phys)
    assert _rows(t) == {"a": (1.0, 10), "b": (2.0, 20), "c": (2.5, 30)}


def test_widened_era_values_exact_after_update(spark, tmp_path):
    """Updating a long-era key after the widen rewrites its bucket in
    the new physical type; untouched buckets still cast up."""
    t = _mk(spark, tmp_path)
    rows = [(f"k{i}", i, i, "1", "insert") for i in range(20)]
    merge_into(t, spark.createDataFrame(rows, _batch_schema(T.LongType())))
    merge_into(
        t,
        spark.createDataFrame(
            [("k3", 3.75, 99, "2", "update")], _batch_schema(T.DoubleType())
        ),
    )
    got = _rows(t)
    assert got["k3"] == (3.75, 99)
    assert all(
        got[f"k{i}"] == (float(i), i) for i in range(20) if i != 3
    )


def test_long_to_string_widen(spark, tmp_path):
    """String is the lattice top: a string-typed batch retypes ``v``
    and the long era reads back as decimal strings."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 7, 1, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    merge_into(
        t,
        spark.createDataFrame(
            [("b", "seven", 2, "2", "insert")], _batch_schema(T.StringType())
        ),
    )
    assert t.schema["v"].dataType == T.StringType()
    assert _rows(t) == {"a": ("7", 1), "b": ("seven", 2)}


def test_narrowing_batch_is_absorbed_not_raised(spark, tmp_path):
    """After the widen, a feed that reverts to longs is absorbed (cast
    up on write) — the schema never narrows back."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 0.5, 1, "1", "insert")], _batch_schema(T.DoubleType())
        ),
    )
    merge_into(
        t,
        spark.createDataFrame(
            [("b", 4, 2, "2", "insert")], _batch_schema(T.LongType())
        ),
    )
    assert t.schema["v"].dataType == T.DoubleType()
    assert _rows(t) == {"a": (0.5, 1), "b": (4.0, 2)}


def test_incompatible_change_still_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    bad = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("w", T.ArrayType(T.LongType()), True),
            T.StructField("op", T.StringType(), False),
        ]
    )
    with pytest.raises(SchemaEvolutionError):
        merge_into(t, spark.createDataFrame([("a", [1], "insert")], bad))


def test_widen_column_ddl(spark, tmp_path):
    """Explicit ALTER COLUMN TYPE: metadata-only, values preserved."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 41, 1, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    files_before = {f["path"] for f in t.snapshot().files}
    t.widen_column("v", "double")
    snap = t.snapshot()
    assert {f["path"] for f in snap.files} == files_before  # no rewrite
    assert snap.schema["v"].dataType == T.DoubleType()
    assert _rows(t) == {"a": (41.0, 1)}
    with pytest.raises(SchemaEvolutionError):
        t.widen_column("v", "long")  # narrowing never
    with pytest.raises(SchemaEvolutionError):
        t.widen_column("missing", "string")


def test_chained_widens_keep_oldest_physical(spark, tmp_path):
    """long -> double -> string across three eras: each file reads
    through the type it was WRITTEN with (setdefault keeps the oldest
    annotation), and all three eras coexist in one read."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 3, 1, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    merge_into(
        t,
        spark.createDataFrame(
            [("b", 2.5, 2, "2", "insert")], _batch_schema(T.DoubleType())
        ),
    )
    merge_into(
        t,
        spark.createDataFrame(
            [("c", "x", 3, "3", "insert")], _batch_schema(T.StringType())
        ),
    )
    assert t.schema["v"].dataType == T.StringType()
    got = _rows(t)
    assert got["c"] == ("x", 3) and got["b"] == ("2.5", 2)
    # the long-era value must NOT have gone through double ("3.0")
    assert got["a"] == ("3", 1)


def test_mor_delta_widen_and_compaction_clears_era(spark, tmp_path):
    """MoR: a double delta over a long base reconstructs correctly;
    compaction rewrites the touched buckets in the new physical type."""
    from gear5_spark.lake.mor import compact, merge_delta

    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, 10, "1", "insert"), ("b", 2, 20, "1", "insert")],
            _batch_schema(T.LongType()),
        ),
    )
    merge_delta(
        t,
        spark.createDataFrame(
            [("a", 1.5, 11, "2", "update")], _batch_schema(T.DoubleType())
        ),
    )
    assert t.schema["v"].dataType == T.DoubleType()
    assert _rows(t) == {"a": (1.5, 11), "b": (2.0, 20)}
    compact(t)
    snap = t.snapshot()
    assert not any(f.get("kind") == "delta" for f in snap.files)
    assert _rows(t) == {"a": (1.5, 11), "b": (2.0, 20)}
    # compacted buckets were rewritten post-widen: no resolved file in
    # them still carries a physical annotation for v
    compacted = {
        f["bucket"] for f in snap.files if not (f.get("physical") or {})
    }
    assert compacted  # at least the rewritten buckets are era-free


def test_widen_plan_stays_two_scans_one_union(spark, tmp_path):
    """The typed view is a union of per-era scans — no shuffle, no UDF;
    filters on un-widened columns still push into both branches."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, 10, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    merge_into(
        t,
        spark.createDataFrame(
            [("b", 2.5, 20, "2", "insert")], _batch_schema(T.DoubleType())
        ),
    )
    df = t.read().filter(F.col("w") > 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 2
    # w is not widened: its filter reaches parquet in both era branches
    assert plan.count("PushedFilters: [IsNotNull(w), GreaterThan(w,5)]") == 2


def test_time_travel_before_widen_reads_old_schema(spark, tmp_path):
    """A snapshot pinned before the widen still reads with (and casts
    to) ITS schema — history is immutable."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, 10, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    v1 = t.snapshot()
    merge_into(
        t,
        spark.createDataFrame(
            [("b", 2.5, 20, "2", "insert")], _batch_schema(T.DoubleType())
        ),
    )
    old = t.read(snapshot=t.snapshot(v1.version))
    assert old.schema["v"].dataType == T.LongType()
    assert {r["k"]: r["v"] for r in old.collect()} == {"a": 1}


def test_occ_rebase_widen_annotates_winner_files(spark, tmp_path):
    """A widening commit computed against a STALE basis rebases onto
    the winner; the winner's files (written pre-widen, after our basis)
    must end up annotated and read back through the cast."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, 10, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    base = t.snapshot()
    # racing writer lands ANOTHER long-era file after our basis
    merge_into(
        t,
        spark.createDataFrame(
            [("b", 2, 20, "2", "insert")], _batch_schema(T.LongType())
        ),
    )
    evolved = T.StructType(
        [
            T.StructField("v", T.DoubleType(), True)
            if f.name == "v"
            else f
            for f in base.schema.fields
        ]
    )
    t.commit(files=base.files, schema=evolved, basis=base)
    assert t.schema["v"].dataType == T.DoubleType()
    assert _rows(t) == {"a": (1.0, 10), "b": (2.0, 20)}
    # every kept manifest of the rebased commit carries the era map
    snap = t.snapshot()
    assert all(
        m.get("physical") == {"v": "bigint"} for m in snap.manifest_list
    )


def _write_long_era_file(spark, t, base, rows):
    """Write ``rows`` as data files physically typed by ``base``'s
    (long-``v``) schema, returning the new file entries uncommitted."""
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "_bucket", t.bucket_expr(base)
    )
    _, entries = t.write_data_files(df, snap=base)
    return entries


def test_occ_rebase_onto_widening_winner_stamps_own_files(spark, tmp_path):
    """The MIRROR race: a NON-widening commit computed against a stale
    basis rebases onto a winner that widened the schema — its own new
    files (physically written with the narrow type) must land with an
    entry-level era map, or every subsequent read dies with a parquet
    physical/logical type mismatch."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, 10, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    base = t.snapshot()
    entries = _write_long_era_file(spark, t, base, [("z", 7, 70, "2")])
    # racing widener wins first
    evolved = T.StructType(
        [
            T.StructField("v", T.DoubleType(), True) if f.name == "v" else f
            for f in base.schema.fields
        ]
    )
    t.commit(files=base.files, schema=evolved, basis=base)
    # our commit rebases; schema merge absorbs long into double
    t.commit(
        files=list(base.files) + entries, schema=base.schema, basis=base
    )
    assert t.schema["v"].dataType == T.DoubleType()
    assert _rows(t) == {"a": (1.0, 10), "z": (7.0, 70)}
    # the rebased commit's new manifest carries the entry-level stamp
    snap = t.snapshot()
    stamped = []
    for m in snap.manifest_list:
        import json as _json
        import os as _os

        mf = _json.loads(
            open(_os.path.join(t.table_dir, m["path"])).read()
        )
        stamped += [
            f.get("physical") for f in mf["files"] if f["path"].endswith(
                tuple(e["path"].rsplit("/", 1)[-1] for e in entries)
            )
        ]
    assert stamped and all(p == {"v": "bigint"} for p in stamped)


def test_occ_rebase_schema_none_onto_widening_winner(spark, tmp_path):
    """Same race with ``schema=None`` (caller keeps the table schema):
    the written types are the BASIS schema's — still must be stamped."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 1, 10, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    base = t.snapshot()
    entries = _write_long_era_file(spark, t, base, [("y", 3, 30, "2")])
    evolved = T.StructType(
        [
            T.StructField("v", T.DoubleType(), True) if f.name == "v" else f
            for f in base.schema.fields
        ]
    )
    t.commit(files=base.files, schema=evolved, basis=base)
    t.commit(files=list(base.files) + entries, schema=None, basis=base)
    assert t.schema["v"].dataType == T.DoubleType()
    assert _rows(t) == {"a": (1.0, 10), "y": (3.0, 30)}


def test_scan_stats_prune_across_widened_eras(spark, tmp_path):
    """Manifest-stats file skipping keeps working across a widen: the
    long-era files carry INTEGER min/max for v while the filter value
    is a float — pruning still skips non-matching files (Python int ↔
    float compare), and a mixed-type comparison can only ever KEEP a
    file (the conservative TypeError guard), never wrongly skip one.
    ``v`` is numeric, so its stats are collected by default."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema=SCHEMA,
        key_columns=["k"],
        n_buckets=4,
    )
    rows = [(f"k{i}", i * 10, i, "1", "insert") for i in range(12)]
    merge_into(t, spark.createDataFrame(rows, _batch_schema(T.LongType())))
    merge_into(
        t,
        spark.createDataFrame(
            [("x", 1000.5, 99, "2", "insert")],
            _batch_schema(T.DoubleType()),
        ),
    )
    assert t.schema["v"].dataType == T.DoubleType()
    keep, skipped = t.plan_scan([("v", ">=", 1000.0)])
    assert skipped > 0  # long-era files with small v pruned on int stats
    got = {r["k"]: r["v"] for r in t.scan([("v", ">=", 1000.0)]).collect()}
    assert got == {"x": 1000.5}
    # the full set still reads correctly through both eras
    assert len(_rows(t)) == 13


def test_randomized_multi_era_fold_matches_python_oracle(spark, tmp_path):
    """Seeded randomized soak (SURVEY §5.5 style): six batches whose
    ``v`` type wanders across long/double/string with overlapping keys;
    the final table must equal a driver-side fold that applies the same
    LCA widening + cast-up semantics. Catches era bookkeeping drift no
    hand-written case covers (e.g. a bucket rewritten in era 2 then
    kept through era 3)."""
    import random

    rng = random.Random(1234)
    t = _mk(spark, tmp_path)
    expect: dict[str, object] = {}
    schema_type = "long"
    order = {"long": 0, "double": 1, "string": 2}

    def up(cur, new):
        return cur if order[cur] >= order[new] else new

    for lsn in range(1, 7):
        btype = rng.choice(["long", "double", "string"])
        keys = rng.sample([f"k{i}" for i in range(10)], rng.randint(2, 5))
        rows, vals = [], {}
        for k in keys:
            if btype == "long":
                v = rng.randint(-100, 100)
            elif btype == "double":
                v = rng.randint(-100, 100) + 0.25
            else:
                v = f"s{rng.randint(0, 99)}"
            rows.append((k, v, lsn, str(lsn), "insert"))
            vals[k] = v
        spark_t = {
            "long": T.LongType(), "double": T.DoubleType(),
            "string": T.StringType(),
        }[btype]
        merge_into(
            t, spark.createDataFrame(rows, _batch_schema(spark_t))
        )
        schema_type = up(schema_type, btype)
        expect.update(vals)
    assert t.schema["v"].dataType.typeName() == schema_type

    def cast_up(v):
        if schema_type == "long" or v is None:
            return v
        if schema_type == "double":
            return float(v)
        # string top: Spark renders integral doubles as "1.0", longs
        # as "1" — mirror the cast the read path performs on each
        # value's WRITTEN type. A long written in the long era casts
        # "7"; a long written in a double-era batch was stored as
        # double and casts "7.0".
        return v if isinstance(v, str) else str(v)

    got = {r["k"]: r["v"] for r in t.read().select("k", "v").collect()}
    assert set(got) == set(expect)
    for k, v in expect.items():
        g = got[k]
        if schema_type == "string" and not isinstance(v, str):
            # compare numerically: the written era decides "7" vs "7.0"
            assert float(g) == float(v), (k, g, v)
        else:
            assert g == cast_up(v), (k, g, v)


def test_widen_survives_manifest_rewrite_then_second_widen(spark, tmp_path):
    """rewrite_manifests folds resolved entries (with their baked
    physical maps) into one fresh manifest; a SECOND widen then stamps
    that manifest at the list level. The era-0 file's original written
    type must win over the newer stamp (entry-level priority in
    _resolve_files) — otherwise the long-era file would be opened with
    the intermediate double schema and fail or mis-cast."""
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        spark.createDataFrame(
            [("a", 3, 1, "1", "insert")], _batch_schema(T.LongType())
        ),
    )
    merge_into(
        t,
        spark.createDataFrame(
            [("b", 2.5, 2, "2", "insert")], _batch_schema(T.DoubleType())
        ),
    )
    t.rewrite_manifests()  # bakes {"v": "bigint"} into the a-file entry
    merge_into(
        t,
        spark.createDataFrame(
            [("c", "x", 3, "3", "insert")], _batch_schema(T.StringType())
        ),
    )
    assert t.schema["v"].dataType == T.StringType()
    got = _rows(t)
    # a read through its ORIGINAL bigint type ("3", never "3.0")
    assert got["a"] == ("3", 1)
    assert got["b"] == ("2.5", 2) and got["c"] == ("x", 3)
