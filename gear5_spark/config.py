"""Pipeline configuration: the engine's spec/check surface.

The reference auto-generates JSON-schema for connector configs from Go
struct tags (``/root/reference/jsonschema/generator/generator.go``) and
validates them at startup (``utils/validation.go:37-41``,
``protocol/root.go:75-78`` flags). Python-side a dataclass does the same
job: ``validate`` checks it by hand, and ``config_spec`` derives its JSON
schema with the general dataclass reflector (``gear5_spark.spec.reflect``).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field, fields


@dataclass
class PipelineConfig:
    """Config for one transcripts CDC pipeline (≈ driver config +
    ConfiguredStream in one: the engine has exactly one stream shape)."""

    changelog_dir: str
    table_dir: str
    checkpoint_dir: str
    mode: str = field(
        default="stream",
        metadata={"jsonschema": {"enum": ["stream", "bulk"]}},
    )
    n_buckets: int = 16
    delete_mode: str = field(
        default="hard",
        metadata={"jsonschema": {"enum": ["hard", "soft"]}},
    )
    # None = per-mode default: stream -> mor (delta append + periodic
    # compaction; per-batch CoW rewrite amplification is the wrong shape
    # for a steady tail — see runner.run_stream), bulk -> cow (one big
    # rewrite, zero read amplification afterwards)
    sink_mode: str | None = field(
        default=None,
        metadata={"jsonschema": {"enum": ["cow", "mor", None]}},
    )
    compact_every: int = 8
    max_files_per_trigger: int = 4
    quarantine_dir: str | None = None
    # materialized per-conversation rollup table, incrementally
    # maintained alongside the base (pipeline/rollup.py); None = off
    rollup_dir: str | None = None
    app_id: str = "transcripts-cdc"
    exclude_columns: list[str] = field(default_factory=list)

    @classmethod
    def from_file(cls, path: str) -> "PipelineConfig":
        with open(path) as fh:
            return cls.from_dict(json.load(fh))

    @classmethod
    def from_dict(cls, d: dict) -> "PipelineConfig":
        known = {f.name for f in fields(cls)}
        unknown = set(d) - known
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        return cls(**d)

    def validate(self) -> list[str]:
        """Returns problems (empty = ok) — the `check` half that needs no
        Spark session."""
        problems = []
        if self.mode not in ("stream", "bulk"):
            problems.append(f"mode must be stream|bulk, got {self.mode}")
        if self.delete_mode not in ("hard", "soft"):
            problems.append(
                f"delete_mode must be hard|soft, got {self.delete_mode}"
            )
        if self.n_buckets < 1:
            problems.append("n_buckets must be >= 1")
        if self.sink_mode not in ("cow", "mor", None):
            problems.append(
                f"sink_mode must be cow|mor|None(auto), got {self.sink_mode}"
            )
        # delete_mode is the table's property: `read` bootstraps the
        # table with it, and a PRE-EXISTING table created with the
        # other mode is refused there (pipeline/runner.bootstrap_table)
        if self.max_files_per_trigger < 1:
            problems.append("max_files_per_trigger must be >= 1")
        if not os.path.isdir(self.changelog_dir):
            problems.append(f"changelog_dir not found: {self.changelog_dir}")
        for k in ("conv_id", "turn_idx"):
            if k in self.exclude_columns:
                problems.append(f"cannot exclude key column {k}")
        return problems

    @property
    def resolved_sink_mode(self) -> str:
        """Per-mode default when ``sink_mode`` is None: streaming tails
        get merge-on-read, bulk replays copy-on-write (rationale in
        ``pipeline.runner.run_stream``)."""
        if self.sink_mode is not None:
            return self.sink_mode
        return "mor" if self.mode == "stream" else "cow"

    def to_dict(self) -> dict:
        return asdict(self)


def config_spec() -> dict:
    """JSON-schema for PipelineConfig (the `spec` command output,
    ≈ protocol/spec.go:26-77) via the general dataclass reflector
    (gear5_spark.spec — the generator.go parity surface)."""
    from gear5_spark.spec import reflect

    return reflect(
        PipelineConfig, title="Gear5-Spark transcripts CDC pipeline config"
    )
