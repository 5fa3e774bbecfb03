"""CDC benchmark: bulk backfill and open-loop tail freshness.

    python3 perfbench/run.py --workload backfill|tail --seed N \
        --seconds S --trace 0|1 [--scale full|smoke]

Run from the root of a checkout. Every line but the last is a
human-readable report (the pinned settings, the set-up breakdown, detail
figures and the end-to-end values); the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). The exit code is 1 when any result differs from the
oracle, 2 when the engine is not in the checkout. README.md states what
each metric measures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

from common import (
    ROOT,
    SETTINGS,
    WORK,
    changelog,
    chunk_files,
    peak_rss_mb,
    pin_environment,
    shutdown_jvm,
    start_session,
)

# Input sizes. "full" is what BENCHMARK.json runs; "smoke" is a tiny
# scale for the benchmark's own test.
SCALES = {
    "full": {
        "backfill": {"events": 64_000, "chunks": 64, "convs": 2_000,
                     "warm_replays": 2, "min_replays": 3},
        "tail": {"chunk_rows": 500, "warm_chunks": 2, "backlog_chunks": 64,
                 "rate": 2_000, "mft": 32, "convs": 2_000},
    },
    "smoke": {
        "backfill": {"events": 6_400, "chunks": 8, "convs": 200,
                     "warm_replays": 1, "min_replays": 1},
        "tail": {"chunk_rows": 250, "warm_chunks": 1, "backlog_chunks": 4,
                 "rate": 2_500, "mft": 32, "convs": 200},
    },
}


def _report(label: str, obj: dict) -> None:
    print(f"{label} {json.dumps(obj, default=str)}", flush=True)


def _result_path(args) -> str:
    return os.path.join(WORK, "results", f"{args.workload}-{args.scale}-untraced.json")


def run(args, spec: dict, run_dir: str) -> tuple[dict, int, int]:
    import oracle
    import workloads

    scale = SCALES[args.scale][args.workload]
    pin_environment(run_dir)
    wl = workloads.WORKLOADS[args.workload](scale, run_dir, args.seconds)

    small, _, _ = changelog(args.seed, 3_000, 500, 50)
    small_bad = oracle.self_check(small, [os.path.join(small, f) for f in chunk_files(small)])
    gen_s = wl.inputs(args.seed)

    tracer = None
    if args.trace:
        import tracing as trace

        tracer = trace.Tracer()
        trace.install(tracer)

    # one set-up in a fresh driver JVM: JVM start, class loading and a
    # JIT-cold warm-up, as a user's run pays them
    t0 = time.perf_counter()
    spark = start_session(args.trace)
    tw = time.perf_counter()
    with tracer.span("bench.warmup") if tracer else contextlib.nullcontext():
        wl.warmup(spark)
    setup = {"session_start_s": tw - t0, "warmup_s": time.perf_counter() - tw}

    if tracer:
        import gear5_spark.perf as perf

        perf.track(spark, "m:")
        gc0, since = trace.gc_seconds(spark), time.time()
    out, extra = wl.measure(spark)
    out.check(small_bad == 0, f"oracle disagrees with tests/oracle.py on {small_bad} rows")
    out.metrics["setup_s"] = setup["session_start_s"] + setup["warmup_s"]
    out.metrics["peak_rss_mb"] = peak_rss_mb()
    values = dict(out.metrics)

    _report("settings", {**SETTINGS, "scale": args.scale, **scale})
    _report("setup", {"fixture_gen_s_excluded": gen_s, **setup})
    _report("wall_clock", out.wall)
    _report("detail", out.detail)

    if tracer:
        layer, checks = trace.per_layer(
            tracer, since, perf.stage_metrics(spark, "m:"), trace.job_intervals(spark),
            trace.gc_seconds(spark) - gc0, extra.get("progress", []), extra,
        )
        perf.untrack()
        for _ in range(checks["closure_violations"]):
            out.check(False, "span accounting of an applier call does not close")
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path, {"per_layer": layer, "checks": checks, "end_to_end": out.metrics})
        _report("trace", {"file": os.path.relpath(path, ROOT), **checks})
        _report("end_to_end_traced", {**out.metrics, **out.wall})
        _report("trace_overhead", trace.overhead(
            {**out.metrics, **out.wall}, _result_path(args)
        ))
        values = layer
    else:
        _report("end_to_end", out.metrics)
        os.makedirs(os.path.dirname(_result_path(args)), exist_ok=True)
        with open(_result_path(args), "w") as fh:
            json.dump({"seed": args.seed, "metrics": {**out.metrics, **out.wall}}, fh)
    _report("error_rate", {"value": out.failed / out.attempted, "unit": "fraction",
                           "failed": out.failed, "attempted": out.attempted})
    for e in out.errors[:20]:
        print(f"ERROR {e}", flush=True)

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    return metrics, out.attempted, out.failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "gear5_spark")):
        print(f"no engine to measure: {ROOT}/gear5_spark is missing", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    try:
        metrics, attempted, failed = run(args, spec, run_dir)
    finally:
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
