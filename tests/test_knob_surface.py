"""The CDC path's settable surface is pinned here: the applier's fields,
the pipeline config's fields, the parameters of ``replay_batch``,
``merge_into``, ``merge_delta``, ``compact``, ``delete_where``,
``LakeTable.write_data_files``, ``LakeTable.placement``,
``LakeTable.place``, ``LakeTable.overwrite``, ``LakeTable.scan``,
``LakeTable.plan_scan``, ``bootstrap_table``,
``ConversationRollup``, ``get_spark``, ``latest_per_key`` and
``gap_sessionize``, and the public ``LakeTable`` methods; the engine
reads no clustering or stats-column table property. A new option or
entry point has to edit this file in the same change, where it is
visible. Static check, no Spark session."""

from __future__ import annotations

import dataclasses
import inspect
import pathlib

import pytest

import gear5_spark
from gear5_spark.config import PipelineConfig
from gear5_spark.lake.delete import delete_where
from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.mor import compact, merge_delta
from gear5_spark.lake.table import LakeTable
from gear5_spark.operators.conversations import gap_sessionize
from gear5_spark.operators.dedup import latest_per_key
from gear5_spark.pipeline.apply import TranscriptsApplier
from gear5_spark.pipeline.rollup import ConversationRollup
from gear5_spark.pipeline.runner import bootstrap_table, replay_batch
from gear5_spark.session import get_spark

APPLIER_FIELDS = [
    "table",
    "app_id",
    "registry_path",
    "sink_mode",
    "compact_every",
    "quarantine_dir",
    "exclude_columns",
    "rollup",
    "skipped_batches",
    "_last_dup_ratio",
]

CONFIG_FIELDS = [
    "changelog_dir",
    "table_dir",
    "checkpoint_dir",
    "mode",
    "n_buckets",
    "delete_mode",
    "sink_mode",
    "compact_every",
    "max_files_per_trigger",
    "quarantine_dir",
    "rollup_dir",
    "app_id",
    "exclude_columns",
]

REPLAY_BATCH_PARAMS = [
    "spark",
    "changelog_dir",
    "table",
    "checkpoint_dir",
    "app_id",
    "min_lsn",
    "max_lsn",
    "applier",
]

MERGE_INTO_PARAMS = [
    "table",
    "batch",
    "txn_app_id",
    "txn_batch_id",
    "lineage",
    "affected_buckets",
    "pre_placed",
]

MERGE_DELTA_PARAMS = [
    "table",
    "batch",
    "txn_app_id",
    "txn_batch_id",
    "lineage",
    "pre_placed",
]

COMPACT_PARAMS = ["table"]

# one rewrite path: the scope comes from the match scan, the txn ledger
# is the applier's, and reads and rewrites see the current snapshot
DELETE_WHERE_PARAMS = ["table", "condition"]
OVERWRITE_PARAMS = ["self", "df"]
SCAN_PARAMS = ["self", "filters"]
PLAN_SCAN_PARAMS = ["self", "filters"]

WRITE_DATA_FILES_PARAMS = ["self", "df", "snap", "pre_placed"]

# one layout rule: min(width, n_buckets) slots at the session's width,
# no caller-chosen slot count or sink mode
PLACEMENT_PARAMS = ["snap", "width"]
PLACE_PARAMS = ["self", "df", "snap"]

BOOTSTRAP_TABLE_PARAMS = ["spark", "table_dir", "n_buckets", "delete_mode"]

ROLLUP_INIT_PARAMS = ["self", "base_table", "rollup_table"]

LAKE_TABLE_PUBLIC = [
    "add_column",
    "bucket_expr",
    "commit",
    "create",
    "current_version",
    "drop",
    "exists",
    "expire_snapshots",
    "history",
    "last_committed_batch",
    "lineage_df",
    "lookup",
    "overwrite",
    "partition_lineage_df",
    "place",
    "placement",
    "plan_scan",
    "read",
    "rebucket",
    "rewrite_manifests",
    "scan",
    "schema",
    "snapshot",
    "truncate",
    "vacuum",
    "widen_column",
    "write_data_files",
]


GET_SPARK_PARAMS = ["app_name", "master", "shuffle_partitions", "extra_conf"]

# skew is the table placement's job: neither operator takes a hot-key
# option (no salting, no hot-key guard)
LATEST_PER_KEY_PARAMS = ["df", "key_cols", "order_cols", "co_group_cols"]

GAP_SESSIONIZE_PARAMS = ["df", "key_col", "ts_col", "gap_sec", "session_col"]


def _fields(cls) -> list[str]:
    return [f.name for f in dataclasses.fields(cls)]


def _params(fn) -> list[str]:
    return list(inspect.signature(fn).parameters)


def test_applier_fields_pinned():
    assert _fields(TranscriptsApplier) == APPLIER_FIELDS
    # run state, not options: neither is a constructor argument
    init = [f.name for f in dataclasses.fields(TranscriptsApplier) if f.init]
    assert "skipped_batches" not in init and "_last_dup_ratio" not in init


def test_config_fields_pinned():
    assert _fields(PipelineConfig) == CONFIG_FIELDS


def test_replay_batch_and_merge_into_params_pinned():
    assert _params(replay_batch) == REPLAY_BATCH_PARAMS
    assert _params(merge_into) == MERGE_INTO_PARAMS


def test_lake_entry_points_pinned():
    assert _params(merge_delta) == MERGE_DELTA_PARAMS
    assert _params(compact) == COMPACT_PARAMS
    assert _params(delete_where) == DELETE_WHERE_PARAMS
    assert _params(LakeTable.overwrite) == OVERWRITE_PARAMS
    assert _params(LakeTable.scan) == SCAN_PARAMS
    assert _params(LakeTable.plan_scan) == PLAN_SCAN_PARAMS
    assert _params(LakeTable.write_data_files) == WRITE_DATA_FILES_PARAMS
    assert _params(LakeTable.placement) == PLACEMENT_PARAMS
    assert _params(LakeTable.place) == PLACE_PARAMS
    # bucket columns are a list; the single-string form is gone
    create = inspect.signature(LakeTable.create).parameters
    assert create["bucket_columns"].annotation == "list[str] | None"
    public = sorted(
        n for n in vars(LakeTable) if not n.startswith("_") and not n.isupper()
    )
    assert public == LAKE_TABLE_PUBLIC


def test_bootstrap_and_rollup_params_pinned():
    assert _params(bootstrap_table) == BOOTSTRAP_TABLE_PARAMS
    assert _params(ConversationRollup.__init__) == ROLLUP_INIT_PARAMS


@pytest.mark.parametrize("prop", ["sort_columns", "stats_columns"])
def test_removed_table_properties_are_not_read(prop):
    root = pathlib.Path(gear5_spark.__file__).parent
    hits = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if prop in p.read_text()
    ]
    assert hits == []


def test_get_spark_params_pinned():
    assert _params(get_spark) == GET_SPARK_PARAMS


def test_skew_free_operator_params_pinned():
    assert _params(latest_per_key) == LATEST_PER_KEY_PARAMS
    assert _params(gap_sessionize) == GAP_SESSIONIZE_PARAMS


@pytest.mark.parametrize(
    "key", ["auto_widen", "partition_lineage", "salt_buckets"]
)
def test_removed_config_keys_are_unknown(key):
    base = {"changelog_dir": "l", "table_dir": "t", "checkpoint_dir": "c"}
    with pytest.raises(ValueError, match=f"unknown config keys.*{key}"):
        PipelineConfig.from_dict({**base, key: True})
