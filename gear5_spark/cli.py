"""CLI — the engine's spec/check/discover/read lifecycle.

Mirrors the reference's cobra subcommands (``/root/reference/protocol/
root.go:71-78``: ``spec check discover read`` with ``--config/--state``)
as ``python -m gear5_spark <cmd>``:

- ``spec``      print the config JSON schema (≈ protocol/spec.go:26-77)
- ``check``     validate config + source/table connectivity, emit a
                CONNECTION_STATUS-style JSON line (≈ protocol/check.go)
- ``discover``  sample the change feed with the applier's own sampler,
                print the catalog: target schema + the payload registry
                ``read`` would write (≈ protocol/discover.go:46-90);
                writes nothing
- ``read``      run the pipeline — bulk replay or streaming tail
                (≈ protocol/read.go); its STATE carries per-phase times
- ``state``     print the table's txn ledger + lineage (the reference's
                STATE messages, queryable after the fact)
- ``compact``   fold MoR delta files into base (maintenance)
- ``rebucket``  rewrite the table into a new bucket count
- ``fsck``      check the table's metadata against its files (``--deep``:
                recorded row counts against parquet footers)
- ``vacuum``    delete data unreachable from any snapshot
- ``expire``    drop old snapshot metadata (bounds the log; lineage
                archived first, freed data becomes vacuum-eligible)
- ``delete``    DELETE WHERE <sql expr> — predicate delete (GDPR path;
                follow with expire + vacuum for full erasure)

All output is one JSON document per command on stdout (the reference's
message protocol, types/catalog.go:11-20, minus the per-record stream —
records land in the lake table, not stdout).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from gear5_spark.session import get_spark

    return get_spark(app_name="gear5-cli")


def cmd_spec(args) -> int:
    from gear5_spark.config import config_spec

    spec = config_spec()
    if getattr(args, "airbyte", False):
        # protocol/spec.go:68-72 — wrap for Airbyte-compatible consumers
        spec = {"connectionSpecification": spec}
    print(json.dumps({"type": "SPEC", "spec": spec}, indent=2))
    return 0


def cmd_check(args) -> int:
    from gear5_spark.config import PipelineConfig

    try:
        cfg = PipelineConfig.from_file(args.config)
        # validate() inside the guard: dataclasses don't type-check, so
        # a wrong-typed value (n_buckets: "16") raises here — it must
        # become a FAILED status line, not a traceback
        problems = cfg.validate()
    except (OSError, ValueError, TypeError) as e:
        print(json.dumps({"type": "CONNECTION_STATUS", "status": "FAILED",
                          "message": f"config: {e}"}))
        return 1
    if not problems:
        try:
            spark = _spark()
            from gear5_spark.sources.changelog import read_changelog

            n = read_changelog(spark, cfg.changelog_dir).limit(1).count()
            if n == 0:
                problems.append("changelog is empty")
        except Exception as e:
            problems.append(f"changelog unreadable: {e}")
    status = "SUCCEEDED" if not problems else "FAILED"
    print(json.dumps({"type": "CONNECTION_STATUS", "status": status,
                      "message": "; ".join(problems)}))
    return 0 if not problems else 1


def _config(path: str):
    """The validated config at ``path``, or None after printing the one
    LOG ERROR document that says why not."""
    from gear5_spark.config import PipelineConfig

    try:
        cfg = PipelineConfig.from_file(path)
        problems = cfg.validate()
    except (OSError, ValueError, TypeError) as e:
        problems = [f"config: {e}"]
    if problems:
        print(json.dumps({"type": "LOG", "level": "ERROR",
                          "message": "; ".join(problems)}))
        return None
    return cfg


def cmd_discover(args) -> int:
    from gear5_spark.pipeline.apply import (
        BASE_PAYLOAD,
        KEY_COLS,
        count_and_discover,
        extend_from_counts,
        load_registry,
        malformed_key,
    )
    from gear5_spark.operators.dedup import latest_per_key
    from gear5_spark.pipeline.runner import TRANSCRIPTS_SCHEMA, registry_path
    from gear5_spark.sources.changelog import read_changelog

    cfg = _config(args.config)
    if cfg is None:
        return 1
    try:
        registry = load_registry(registry_path(cfg.checkpoint_dir))
    except (OSError, ValueError) as e:
        print(json.dumps({"type": "LOG", "level": "ERROR",
                          "message": f"registry: {e}"}))
        return 1
    spark = _spark()
    # the applier's own sampler over the first --sample records; the
    # checkpoint pins the sample, so every job below sees the same rows
    sample = (
        read_changelog(spark, cfg.changelog_dir)
        .limit(args.sample)
        .localCheckpoint()
    )
    # the applier types only each batch's last-write-wins winners, so a
    # key carried only by losing (or unkeyable) events is not advertised
    winners = latest_per_key(sample.filter(~malformed_key()), KEY_COLS)
    _, counts = count_and_discover(winners)
    registry = extend_from_counts(winners, registry, counts)
    catalog = {
        "type": "CATALOG",
        "streams": [
            {
                "name": "transcripts",
                "namespace": "gear5",
                "supported_sync_modes": ["full_refresh", "cdc"],
                "source_defined_primary_key": KEY_COLS,
                "cursor_field": "_cdc_lsn",
                "schema": {
                    f.name: f.dataType.simpleString()
                    for f in TRANSCRIPTS_SCHEMA.fields
                },
                "payload_fields_observed": sorted(counts),
                "payload_fields_typed": registry,
                "payload_fields_known": sorted(BASE_PAYLOAD),
                "sampled_records": sample.count(),
            }
        ],
    }
    print(json.dumps(catalog, indent=2))
    return 0


def cmd_read(args) -> int:
    import time

    from gear5_spark import perf
    from gear5_spark.pipeline.runner import (
        bootstrap_table,
        make_applier,
        replay_batch,
        run_stream,
    )

    cfg = _config(args.config)
    if cfg is None:
        return 1
    spark = _spark()
    try:
        table = bootstrap_table(
            spark, cfg.table_dir, n_buckets=cfg.n_buckets,
            delete_mode=cfg.delete_mode,
        )
    except ValueError as e:
        print(json.dumps({"type": "LOG", "level": "ERROR",
                          "message": f"table: {e}"}))
        return 1
    rollup = None
    if cfg.rollup_dir:
        from gear5_spark.pipeline.rollup import (
            ConversationRollup,
            bootstrap_rollup,
        )

        rollup = ConversationRollup(
            table, bootstrap_rollup(spark, cfg.rollup_dir, cfg.n_buckets)
        )
    applier = make_applier(
        table, cfg.checkpoint_dir, app_id=cfg.app_id,
        sink_mode=cfg.resolved_sink_mode, compact_every=cfg.compact_every,
        quarantine_dir=cfg.quarantine_dir,
        exclude_columns=cfg.exclude_columns, rollup=rollup,
    )
    perf.reset()
    t0 = time.perf_counter()
    if cfg.mode == "bulk":
        replay_batch(
            spark, cfg.changelog_dir, table, cfg.checkpoint_dir,
            applier=applier,
        )
    else:
        run_stream(
            spark, cfg.changelog_dir, table, cfg.checkpoint_dir,
            app_id=cfg.app_id,
            max_files_per_trigger=cfg.max_files_per_trigger,
            applier=applier, timeout_sec=args.timeout,
        )
    elapsed = time.perf_counter() - t0
    print(json.dumps({
        "type": "STATE",
        "rows": table.read().count(),
        "snapshot_version": table.current_version(),
        "elapsed_sec": round(elapsed, 3),
        "phases": perf.timings(),
    }))
    return 0


def cmd_state(args) -> int:
    from gear5_spark.lake.table import LakeTable

    spark = _spark()
    table = LakeTable(spark, args.table_dir)
    snap = table.snapshot()
    # lineage is one entry per snapshot; the tail = last 5 commits' rows
    tail = []
    for v in range(max(0, snap.version - 4), snap.version + 1):
        try:
            tail.extend(table.snapshot(v).lineage)
        except FileNotFoundError:  # expired by expire_snapshots
            continue
    print(json.dumps({
        "type": "STATE",
        "snapshot_version": snap.version,
        "snapshot_id": snap.snapshot_id,
        "txn": snap.txn,
        "schema": {f.name: f.dataType.simpleString() for f in snap.schema.fields},
        "files": len(snap.files),
        "lineage_tail": tail[-5:],
    }, indent=2))
    return 0


def cmd_compact(args) -> int:
    from gear5_spark.lake.mor import compact
    from gear5_spark.lake.table import LakeTable

    spark = _spark()
    table = LakeTable(spark, args.table_dir)
    snap = compact(table)
    print(json.dumps({
        "type": "LOG",
        "message": "nothing to compact" if snap is None
        else f"compacted to snapshot v{snap.version}",
    }))
    return 0


def cmd_rebucket(args) -> int:
    from gear5_spark.lake.table import LakeTable

    spark = _spark()
    table = LakeTable(spark, args.table_dir)
    snap = table.rebucket(args.n_buckets)
    print(json.dumps({
        "type": "LOG",
        "message": f"rebucketed to {args.n_buckets} at snapshot v{snap.version}",
    }))
    return 0


def cmd_vacuum(args) -> int:
    from gear5_spark.lake.table import LakeTable

    spark = _spark()
    table = LakeTable(spark, args.table_dir)
    removed = table.vacuum(retention_sec=args.retention_sec)
    print(json.dumps({"type": "LOG", "removed_commits": removed,
                      "retention_sec": args.retention_sec}))
    return 0


def cmd_fsck(args) -> int:
    # metadata/footer IO only — no SparkSession needed (fast, runnable
    # against a live table from any maintenance host)
    from gear5_spark.lake.fsck import fsck
    from gear5_spark.lake.table import LakeTable

    table = LakeTable(None, args.table_dir)
    report = fsck(table, deep=args.deep)
    print(json.dumps({"type": "LOG", **report}))
    return 0 if report["ok"] else 1


def cmd_delete(args) -> int:
    from gear5_spark.lake.delete import delete_where
    from gear5_spark.lake.table import LakeTable

    spark = _spark()
    table = LakeTable(spark, args.table_dir)
    snap, n = delete_where(table, args.where)
    print(json.dumps({
        "type": "LOG",
        "rows_deleted": n,
        "snapshot_version": snap.version,
        "note": "run expire + vacuum to reclaim prior snapshots' copies",
    }))
    return 0


def cmd_expire(args) -> int:
    from gear5_spark.lake.table import LakeTable

    spark = _spark()
    table = LakeTable(spark, args.table_dir)
    expired = table.expire_snapshots(
        keep_last=args.keep_last, older_than_ms=args.older_than_ms
    )
    print(json.dumps({"type": "LOG", "expired_versions": expired,
                      "keep_last": args.keep_last}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="gear5_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_spec = sub.add_parser("spec")
    p_spec.add_argument(
        "--airbyte",
        action="store_true",
        help="wrap the schema in connectionSpecification "
        "(protocol/spec.go:68-72)",
    )
    p = sub.add_parser("check")
    p.add_argument("--config", required=True)
    p = sub.add_parser("discover")
    p.add_argument("--config", required=True)
    p.add_argument("--sample", type=int, default=100)
    p = sub.add_parser("read")
    p.add_argument("--config", required=True)
    p.add_argument("--timeout", type=float, default=None)
    p = sub.add_parser("state")
    p.add_argument("--table-dir", required=True)
    p = sub.add_parser("compact")
    p.add_argument("--table-dir", required=True)
    p = sub.add_parser("rebucket")
    p.add_argument("--table-dir", required=True)
    p.add_argument("--n-buckets", type=int, required=True)
    p = sub.add_parser("fsck")
    p.add_argument("--table-dir", required=True)
    p.add_argument("--deep", action="store_true",
                   help="verify recorded row counts against parquet footers")
    p = sub.add_parser("vacuum")
    p.add_argument("--table-dir", required=True)
    p.add_argument("--retention-sec", type=float, default=3600.0)
    p = sub.add_parser("expire")
    p.add_argument("--table-dir", required=True)
    p.add_argument("--keep-last", type=int, default=10)
    p.add_argument("--older-than-ms", type=int, default=None)
    p = sub.add_parser("delete")
    p.add_argument("--table-dir", required=True)
    p.add_argument("--where", required=True)
    args = ap.parse_args(argv)
    return {
        "spec": cmd_spec,
        "check": cmd_check,
        "discover": cmd_discover,
        "read": cmd_read,
        "state": cmd_state,
        "compact": cmd_compact,
        "rebucket": cmd_rebucket,
        "fsck": cmd_fsck,
        "vacuum": cmd_vacuum,
        "expire": cmd_expire,
        "delete": cmd_delete,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
