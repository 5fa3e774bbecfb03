"""The CDC path's settable surface is pinned here: the applier's fields,
the pipeline config's fields and the parameters of ``replay_batch``,
``merge_into`` and ``get_spark``. A new option has to edit this file in
the same change, where it is visible. Static check, no Spark session."""

from __future__ import annotations

import dataclasses
import inspect

import pytest

from gear5_spark.config import PipelineConfig
from gear5_spark.lake.merge import merge_into
from gear5_spark.pipeline.apply import TranscriptsApplier
from gear5_spark.pipeline.runner import replay_batch
from gear5_spark.session import get_spark

APPLIER_FIELDS = [
    "table",
    "app_id",
    "registry_path",
    "salt_buckets",
    "sink_mode",
    "compact_every",
    "quarantine_dir",
    "partition_lineage",
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
    "salt_buckets",
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
    "salt_buckets",
    "sink_mode",
    "compact_every",
    "quarantine_dir",
    "exclude_columns",
    "rollup",
]

MERGE_INTO_PARAMS = [
    "table",
    "batch",
    "op_col",
    "order_guard",
    "txn_app_id",
    "txn_batch_id",
    "lineage",
    "affected_buckets",
    "pre_placed",
]


GET_SPARK_PARAMS = ["app_name", "master", "shuffle_partitions", "extra_conf"]


def _fields(cls) -> list[str]:
    return [f.name for f in dataclasses.fields(cls)]


def _params(fn) -> list[str]:
    return list(inspect.signature(fn).parameters)


def test_applier_fields_pinned():
    assert _fields(TranscriptsApplier) == APPLIER_FIELDS


def test_config_fields_pinned():
    assert _fields(PipelineConfig) == CONFIG_FIELDS


def test_replay_batch_and_merge_into_params_pinned():
    assert _params(replay_batch) == REPLAY_BATCH_PARAMS
    assert _params(merge_into) == MERGE_INTO_PARAMS


def test_get_spark_params_pinned():
    assert _params(get_spark) == GET_SPARK_PARAMS


@pytest.mark.parametrize("key", ["auto_widen", "partition_lineage"])
def test_removed_config_keys_are_unknown(key):
    base = {"changelog_dir": "l", "table_dir": "t", "checkpoint_dir": "c"}
    with pytest.raises(ValueError, match=f"unknown config keys.*{key}"):
        PipelineConfig.from_dict({**base, key: True})
