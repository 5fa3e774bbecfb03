"""CLI — the engine's spec/check/discover/read lifecycle.

Mirrors the reference's cobra subcommands (``/root/reference/protocol/
root.go:71-78``: ``spec check discover read`` with ``--config/--state``)
as ``python -m gear5_spark <cmd>``:

- ``spec``      print the config JSON schema (≈ protocol/spec.go:26-77)
- ``check``     validate config + source/table connectivity, emit a
                CONNECTION_STATUS-style JSON line (≈ protocol/check.go)
- ``discover``  sample the change feed, print the catalog: target schema +
                discovered payload fields (≈ protocol/discover.go:46-90)
- ``read``      run the pipeline — bulk replay or streaming tail
                (≈ protocol/read.go)
- ``state``     print the table's txn ledger + lineage (the reference's
                STATE messages, queryable after the fact)
- ``compact``   fold MoR delta files into base (maintenance)
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
import os
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


def cmd_discover(args) -> int:
    from gear5_spark.config import PipelineConfig
    from gear5_spark.pipeline.apply import BASE_PAYLOAD, KEY_COLS

    BASE_PAYLOAD_SOURCES = {f["source"] for f in BASE_PAYLOAD.values()}
    from gear5_spark.pipeline.runner import TRANSCRIPTS_SCHEMA
    from gear5_spark.sources.changelog import read_changelog

    try:
        cfg = PipelineConfig.from_file(args.config)
    except (OSError, ValueError, TypeError, KeyError) as e:
        # one-JSON-document contract: config problems surface as a LOG
        # document (matching cmd_check/cmd_read), never a raw traceback
        print(json.dumps({"type": "LOG", "level": "ERROR",
                          "message": f"config error: {e}"}))
        return 1
    spark = _spark()
    from pyspark.sql import functions as F

    # sample payload keys (≈ 100-record sampling, protocol/discover.go:46)
    # — ONE scan: the key set and counts derive from the same collected
    # payloads (two unordered limit() scans could sample different rows)
    sample = read_changelog(spark, cfg.changelog_dir).limit(args.sample)
    import json as _json

    from gear5_spark.operators.infer import infer_token
    from gear5_spark.operators.names import sanitize_unique

    rows = sample.select("after_json").collect()
    payloads = [r[0] for r in rows if r[0] is not None]
    observed_keys: set[str] = set()
    for s_ in payloads:
        try:
            d = _json.loads(s_)
        except ValueError:
            continue
        if isinstance(d, dict):
            observed_keys.update(d.keys())
    row = {"keys": sorted(observed_keys), "n": len(rows)}
    vals_by_key: dict[str, list] = {}
    for s in payloads:
        try:
            d = _json.loads(s)
        except ValueError:
            continue
        if isinstance(d, dict):
            for k, v in d.items():
                if v is not None:
                    vals_by_key.setdefault(k, []).append(v)
    # the sanitize pool must match the applier's exactly (apply.py
    # extend_registry: taken = registry names | KEY_COLS | RESERVED_COLS)
    # or the advertised catalog name diverges from the column the
    # applier actually creates for the same key
    from gear5_spark.pipeline.apply import RESERVED_COLS

    name_map = sanitize_unique(
        [k for k in vals_by_key if k not in BASE_PAYLOAD_SOURCES],
        taken=set(BASE_PAYLOAD) | set(KEY_COLS) | RESERVED_COLS,
    )
    typed = {
        name_map[k]: {"type": infer_token(v[:100]), "source": k}
        for k, v in vals_by_key.items()
        if k not in BASE_PAYLOAD_SOURCES
    }
    for col, spec in BASE_PAYLOAD.items():  # configured schema wins
        typed[col] = dict(spec)
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
                "payload_fields_observed": sorted(row["keys"] or []),
                "payload_fields_typed": typed,
                "payload_fields_known": sorted(BASE_PAYLOAD),
                "sampled_records": row["n"],
            }
        ],
    }
    print(json.dumps(catalog, indent=2))
    return 0


def cmd_read(args) -> int:
    import shutil
    import time

    from gear5_spark.config import PipelineConfig
    from gear5_spark.pipeline.runner import (
        bootstrap_table,
        make_applier,
        replay_batch,
        run_stream,
    )

    try:
        cfg = PipelineConfig.from_file(args.config)
        problems = cfg.validate()
    except (OSError, ValueError, TypeError) as e:
        print(json.dumps({"type": "LOG", "level": "ERROR",
                          "message": f"config: {e}"}))
        return 1
    if problems:
        print(json.dumps({"type": "LOG", "level": "ERROR",
                          "message": "; ".join(problems)}))
        return 1
    spark = _spark()
    table = bootstrap_table(
        spark, cfg.table_dir, n_buckets=cfg.n_buckets,
        delete_mode=cfg.delete_mode,
    )
    rollup = None
    if cfg.rollup_dir:
        from gear5_spark.pipeline.rollup import (
            ConversationRollup,
            bootstrap_rollup,
        )

        rollup = ConversationRollup(
            table, bootstrap_rollup(spark, cfg.rollup_dir, cfg.n_buckets)
        )
    if getattr(args, "warmup", False):
        # tiny throwaway replay so JVM/codegen warmup stays out of the
        # timed run (same honesty rule as bench.py's scaling pairs)
        import tempfile

        try:
            from gen_fixtures import generate_changelog
        except ImportError:
            # gen_fixtures is a repo-root dev script, not packaged —
            # warmup is a bench nicety, not a correctness step: degrade
            # with a LOG line instead of dying before the timed run
            print(json.dumps({
                "type": "LOG", "level": "WARN",
                "message": "warmup skipped: gen_fixtures not importable "
                           "(run from the repo root to enable)",
            }))
            generate_changelog = None

        if generate_changelog is not None:
            wdir = tempfile.mkdtemp(prefix="gear5-warm-")
            try:
                generate_changelog(
                    f"{wdir}/log", n_events=5_000, n_convs=100,
                    chunk_rows=5_000, seed=7,
                )
                wt = bootstrap_table(
                    spark, f"{wdir}/table", n_buckets=cfg.n_buckets
                )
                replay_batch(spark, f"{wdir}/log", wt, f"{wdir}/ckpt")
            finally:
                shutil.rmtree(wdir, ignore_errors=True)
    if os.environ.get("SPARK_GRAFT_PHASES"):
        from gear5_spark import perf

        perf.reset()  # timed window only — warmup spans excluded
    runs_sec: list[float] = []
    t0 = time.perf_counter()
    if cfg.mode == "bulk":
        # --repeats N (benchmarking): replay N times within THIS JVM and
        # report every run — the first full-scale run pays tiered-JIT
        # compilation of the hot codegen loops (~1.3x at 8 cores, ~4x at
        # 32; see SCALING.md "First-run JIT"), which a long-running
        # ingest job never sees again. Warm repeats land in throwaway
        # table dirs (no rollup — it is stateful); the LAST run builds
        # the real table, so STATE describes genuine output.
        repeats = max(1, getattr(args, "repeats", 1) or 1)
        for i in range(repeats):
            last = i == repeats - 1
            tdir = cfg.table_dir if last else f"{cfg.table_dir}.jit{i}"
            ckpt = (
                cfg.checkpoint_dir if last else f"{cfg.checkpoint_dir}.jit{i}"
            )
            if not last:
                # a crashed prior invocation may have left a populated
                # throwaway table; reusing it (bootstrap is
                # if-not-exists) would time a merge-against-existing-rows
                # workload instead of the cold/warm pair this records
                shutil.rmtree(tdir, ignore_errors=True)
                shutil.rmtree(ckpt, ignore_errors=True)
                if cfg.quarantine_dir:
                    shutil.rmtree(
                        f"{cfg.quarantine_dir}.jit{i}", ignore_errors=True
                    )
            tbl = table if last else bootstrap_table(
                spark, tdir, n_buckets=cfg.n_buckets,
                delete_mode=cfg.delete_mode,
            )
            if last and os.environ.get("SPARK_GRAFT_PHASES"):
                from gear5_spark import perf

                # phases must describe the run elapsed_sec times — the
                # JIT-cold repeats would otherwise inflate them
                perf.reset()
            r0 = time.perf_counter()
            replay_batch(
                spark, cfg.changelog_dir, tbl, ckpt,
                app_id=cfg.app_id, salt_buckets=cfg.salt_buckets,
                delete_mode=cfg.delete_mode,
                sink_mode=cfg.resolved_sink_mode,
                compact_every=cfg.compact_every,
                # warm (throwaway) repeats must not churn the REAL
                # dead-letter dir: their table/checkpoint are discarded,
                # so their quarantine output would describe batches the
                # production table never committed
                quarantine_dir=(
                    cfg.quarantine_dir
                    if last
                    else (
                        f"{cfg.quarantine_dir}.jit{i}"
                        if cfg.quarantine_dir
                        else None
                    )
                ),
                exclude_columns=cfg.exclude_columns,
                rollup=rollup if last else None,
                partition_lineage=cfg.partition_lineage,
                auto_widen=cfg.auto_widen,
            )
            runs_sec.append(round(time.perf_counter() - r0, 3))
            if not last:
                shutil.rmtree(tdir, ignore_errors=True)
                shutil.rmtree(ckpt, ignore_errors=True)
                if cfg.quarantine_dir:
                    shutil.rmtree(
                        f"{cfg.quarantine_dir}.jit{i}", ignore_errors=True
                    )
            else:
                t0 = r0  # elapsed_sec times the FINAL (steady) run
    else:
        if (getattr(args, "repeats", 1) or 1) > 1:
            print(json.dumps({
                "type": "LOG", "level": "WARN",
                "message": "--repeats applies to bulk mode only; "
                           "streaming runs once",
            }))
        applier = make_applier(
            table, cfg.checkpoint_dir, app_id=cfg.app_id,
            delete_mode=cfg.delete_mode,
            salt_buckets=cfg.salt_buckets, sink_mode=cfg.resolved_sink_mode,
            compact_every=cfg.compact_every, quarantine_dir=cfg.quarantine_dir,
            exclude_columns=cfg.exclude_columns,
            rollup=rollup,
            partition_lineage=cfg.partition_lineage,
            auto_widen=cfg.auto_widen,
        )
        run_stream(
            spark, cfg.changelog_dir, table, cfg.checkpoint_dir,
            app_id=cfg.app_id,
            max_files_per_trigger=cfg.max_files_per_trigger,
            applier=applier, timeout_sec=args.timeout,
        )
    elapsed = time.perf_counter() - t0
    state = {
        "type": "STATE",
        "rows": table.read().count(),
        "snapshot_version": table.current_version(),
        "elapsed_sec": round(elapsed, 3),
    }
    if len(runs_sec) > 1:
        state["runs_sec"] = runs_sec
    if os.environ.get("SPARK_GRAFT_PHASES"):
        from gear5_spark import perf

        state["phases"] = perf.timings()
    print(json.dumps(state))
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
    p.add_argument("--warmup", action="store_true")
    p.add_argument(
        "--repeats", type=int, default=1,
        help="bulk mode: replay N times in this JVM, report each run "
        "(steady-state benchmarking; elapsed_sec times the final run)",
    )
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
