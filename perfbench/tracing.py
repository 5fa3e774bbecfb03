"""Span recorder for the traced run, and the per-layer metrics built on it.

Spans are recorded from the benchmark's own files: :func:`install` wraps
public functions of each layer at run time, patching the name the caller
looks up (``gear5_spark.pipeline.apply.merge_into``, the ``LakeTable``
methods, ``gear5_spark.perf.span`` for the engine's own phase markers).
A span carries a name, start, end, parent and the id of the root span it
belongs to (one applier call, one warm-up); spans are kept in memory and
written out once at the end of the run.

Self time of a span is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import itertools
import json
import os
import threading
import time
import urllib.request

from common import median, quantile


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else None,
            "start": time.time(),
            **attrs,
        }
        if rec["root"] is None:
            rec["root"] = rec["id"]
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def self_time(self, rec: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - _union(
            [(k["start"], k["end"]) for k in kids], rec["start"], rec["end"]
        )

    def subtree(self, rec: dict) -> list[dict]:
        out, frontier = [], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out.extend(kids)
            frontier = [k["id"] for k in kids]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, default=str)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, out)
            return out

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points so every call records a span."""
    import gear5_spark.lake.mor as mor
    import gear5_spark.perf as perf
    import gear5_spark.pipeline.apply as apply
    import gear5_spark.session as session
    from gear5_spark.lake.table import LakeTable

    def _applier_done(rec, args, _kw, _out):
        ratio = getattr(args[0], "_last_dup_ratio", None)
        if ratio:
            rec["keys_per_event"] = 1.0 / ratio

    def _written(rec, args, _kw, out):
        table = args[0]
        rec["bytes"] = sum(
            os.path.getsize(os.path.join(table.table_dir, e["path"]))
            for e in out[1]
        )

    _wrap(tracer, session, "get_spark", "session.get_spark")
    _wrap(tracer, apply.TranscriptsApplier, "__call__", "pipeline.apply", _applier_done)
    _wrap(tracer, apply, "merge_into", "lake.merge")
    _wrap(tracer, mor, "merge_delta", "lake.merge_delta")
    _wrap(tracer, mor, "compact", "lake.compact")
    _wrap(tracer, LakeTable, "commit", "lake.commit")
    _wrap(tracer, LakeTable, "snapshot", "lake.snapshot")
    _wrap(tracer, LakeTable, "write_data_files", "lake.write_data_files", _written)

    orig_span = perf.span

    @contextlib.contextmanager
    def traced_phase(name: str):
        with tracer.span(name), orig_span(name):
            yield

    perf.span = traced_phase


# ------------------------------------------------------------ Spark side


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=10) as r:
        return json.load(r)


def _epoch(stamp: str) -> float:
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def job_intervals(spark) -> list[tuple[float, float]]:
    """(submitted, completed) epoch seconds of every finished Spark job."""
    app = _rest(spark, "applications")[0]["id"]
    out = []
    for j in _rest(spark, f"applications/{app}/jobs"):
        if j.get("submissionTime") and j.get("completionTime"):
            out.append((_epoch(j["submissionTime"]), _epoch(j["completionTime"])))
    return out


def gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: all executors)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


# ------------------------------------------------------------ per-layer


def _p(values: list[float], q: float) -> float:
    return quantile(values, q) if values else 0.0


def _dur(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def per_layer(
    tracer: Tracer,
    since: float,
    stages: dict[str, dict[str, float]],
    jobs: list[tuple[float, float]],
    gc_s: float,
    progress: list[dict],
    extra: dict[str, float],
) -> tuple[dict[str, float], dict[str, object]]:
    """Per-layer metrics of the measured window (spans starting at/after
    ``since``). Figures "per call" are averaged over applier calls (one
    replay on ``backfill``, one micro-batch on ``tail``); a layer a
    workload does not exercise reads 0. Returns (metrics, checks)."""
    calls = tracer.named("pipeline.apply", since)
    n_calls = max(len(calls), 1)

    def per_call(name: str) -> float:
        return sum(_dur(tracer.named(name, since))) / n_calls

    dedup = stages.get("apply.dedup_count", {})
    tasks = dedup.get("num_tasks", 0)
    mean_task = dedup.get("task_time_sec", 0.0) / tasks if tasks else 0.0

    jobs_per, driver_s, violations, worst = [], [], 0, 0.0
    for c in calls:
        wall = c["end"] - c["start"]
        inside = [(s, e) for s, e in jobs if c["start"] <= s <= c["end"]]
        jobs_per.append(len(inside))
        driver_s.append(wall - _union(inside, c["start"], c["end"]))
        # the applier's own self time plus the self times of the spans
        # under it must add up to its wall time; they do not when a span
        # under the call escapes its interval, is left open, or overlaps
        # a sibling (work on another thread), and neither when a Spark job
        # started by the call outlives it (Spark clock, 1 ms resolution)
        under = tracer.subtree(c)
        err = abs(tracer.self_time(c) + sum(tracer.self_time(s) for s in under) - wall)
        worst = max(worst, err)
        escaped = any(s["start"] < c["start"] or s["end"] > c["end"] for s in under) or any(e > c["end"] + 2e-3 for _, e in inside)
        violations += err > 1e-3 or escaped

    written = sum(s["bytes"] for s in tracer.named("lake.write_data_files", since))
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in batches]

    m = {
        "session.start_s": median(_dur(tracer.named("session.get_spark"))),
        "session.warmup_s": median(_dur(tracer.named("bench.warmup"))),
        "sources.input_mb": sum(a.get("input_mb", 0.0) for a in stages.values()) / n_calls,
        "sources.offset_ms_p50": _p(
            [d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur], 0.5
        ),
        "sources.rows_per_batch_p50": _p([p["numInputRows"] for p in batches], 0.5),
        "operators.dedup_s": per_call("apply.dedup_count"),
        "operators.dedup_cpu_s": dedup.get("cpu_sec", 0.0) / n_calls,
        "operators.shuffle_mb": (
            dedup.get("shuffle_read_mb", 0.0) + dedup.get("shuffle_write_mb", 0.0)
        ) / n_calls,
        "operators.spill_mb": (
            dedup.get("spill_mem_mb", 0.0) + dedup.get("spill_disk_mb", 0.0)
        ) / n_calls,
        "operators.task_skew": dedup.get("max_task_sec", 0.0) / mean_task if mean_task else 0.0,
        "operators.keys_per_event": _p(
            [c["keys_per_event"] for c in calls if "keys_per_event" in c], 0.5
        ),
        "operators.discover_s": per_call("apply.extend_registry")
        + per_call("apply.widen_detect"),
        "pipeline.batch_s_p50": _p(_dur(calls), 0.5),
        "pipeline.batch_s_p90": _p(_dur(calls), 0.9),
        "pipeline.batches": len(calls),
        "pipeline.jobs_per_batch": _p(jobs_per, 0.5),
        "pipeline.driver_s_per_batch": _p(driver_s, 0.5),
        "pipeline.trigger_overhead_ms": _p(
            [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur], 0.5
        ),
        "lake.merge_s": per_call("lake.merge"),
        "lake.write_s": per_call("table.write_parquet"),
        "lake.merge_delta_s": per_call("lake.merge_delta"),
        "lake.compact_s": sum(_dur(tracer.named("lake.compact", since))),
        "lake.compactions": len(tracer.named("lake.compact", since)),
        "lake.commit_ms_p50": 1e3 * _p(_dur(tracer.named("lake.commit", since)), 0.5),
        "lake.commits": len(tracer.named("lake.commit", since)),
        "lake.bytes_written_per_input_byte": (
            written / extra["feed_bytes"] if extra.get("feed_bytes") else 0.0
        ),
        "lake.snapshot_load_ms_p50": 1e3 * _p(_dur(tracer.named("lake.snapshot", since)), 0.5),
        "lake.resident_delta_files": extra.get("resident_delta_files", 0),
        "jvm.gc_s": gc_s,
        "loadgen.late_max_s": extra.get("late_max_s", 0.0),
    }
    checks = {
        "applier_calls": len(calls),
        "closure_violations": violations,
        "closure_max_err_s": worst,
    }
    return m, checks


def overhead(traced: dict[str, float], untraced_path: str) -> dict[str, object]:
    """Traced minus untraced end-to-end values, against the last untraced
    run of the same workload in this checkout (written by ``run.py``)."""
    try:
        with open(untraced_path) as fh:
            base = json.load(fh)
    except FileNotFoundError:
        return {"note": "no untraced run of this workload yet"}
    return {
        "untraced_seed": base["seed"],
        **{k: traced[k] - v for k, v in base["metrics"].items() if k in traced},
    }
