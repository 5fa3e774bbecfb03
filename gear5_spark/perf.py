"""Lightweight phase timing for the apply/commit path.

Every batch records wall-clock per engine phase into a process-global
dict (one ``perf_counter`` pair per phase — negligible overhead). Used
by bench.py and ``python -m gear5_spark read`` to attribute fixed costs
(VERDICT r1 #3) instead of guessing; read with ``timings()``/``reset()``.
"""

from __future__ import annotations

import contextlib
import threading
import time

_TIMINGS: dict[str, float] = {}
_COUNTS: dict[str, int] = {}

# When a session is registered via track(), each span also sets a Spark
# job group ("g5:<phase>") for its thread, so every job launched inside
# the span is attributable to the phase afterwards via the UI REST API
# (stage_metrics). Diagnostic-only: nothing is registered in production.
# Job groups are per thread in Spark, so the stack of open spans is too:
# two streams on one tracked session each restore their own parent.
_TRACKED = None
_LOCAL = threading.local()
_PREFIX = ""


def _group_stack() -> list[str]:
    stack = getattr(_LOCAL, "stack", None)
    if stack is None:
        stack = _LOCAL.stack = []
    return stack


def track(spark, prefix: str = "") -> None:
    """Enable per-phase Spark stage attribution (requires the session to
    have spark.ui.enabled=true for stage_metrics to read anything).
    ``prefix`` namespaces the job groups so successive tracked runs in
    one application stay separable (stage metrics are app-cumulative)."""
    global _TRACKED, _PREFIX
    _TRACKED = spark
    _PREFIX = prefix


def untrack() -> None:
    global _TRACKED, _PREFIX
    _TRACKED = None
    _PREFIX = ""


@contextlib.contextmanager
def span(name: str):
    # remember whether THIS span pushed: track()/untrack() may flip
    # _TRACKED while a span is open, and the exit path must pop exactly
    # the entries it pushed
    stack = _group_stack()
    pushed = _TRACKED is not None
    if pushed:
        stack.append(name)
        _TRACKED.sparkContext.setJobGroup(f"g5:{_PREFIX}{name}", name)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        dt = time.perf_counter() - t0
        _TIMINGS[name] = _TIMINGS.get(name, 0.0) + dt
        _COUNTS[name] = _COUNTS.get(name, 0) + 1
        if pushed:
            stack.pop()
        if pushed and _TRACKED is not None:
            if stack:
                _TRACKED.sparkContext.setJobGroup(
                    f"g5:{_PREFIX}{stack[-1]}", stack[-1]
                )
            else:
                _TRACKED.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None
                )


def stage_metrics(spark, prefix: str = "") -> dict[str, dict[str, float]]:
    """Per-phase Spark stage metrics (task time, CPU, GC, shuffle bytes,
    spill, input, task count, task-time max for skew) aggregated over
    the stages of every job launched inside a tracked span.
    ``deser_cpu_sec`` is the executor CPU spent deserializing tasks, a
    fixed cost per task that ``cpu_sec`` (task-body CPU) leaves out.
    Reads the UI REST API — requires spark.ui.enabled=true; returns {}
    otherwise. This is the evidence layer for 'phase X does not scale':
    it separates engine causes (shuffle, spill, skewed tasks, GC) from
    host causes (wall time >> task time at every width)."""
    import json as _json
    import urllib.request

    base = getattr(spark.sparkContext, "uiWebUrl", None)
    if not base:
        return {}

    def _get(path: str):
        with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=10) as r:
            return _json.load(r)

    try:
        apps = _get("applications")
        app_id = apps[0]["id"]
        jobs = _get(f"applications/{app_id}/jobs")
        stages = _get(f"applications/{app_id}/stages?status=complete")
    except Exception:
        return {}
    phase_by_stage: dict[int, str] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        if g.startswith("g5:" + prefix):
            for sid in j.get("stageIds", []):
                phase_by_stage[sid] = g[len("g5:") + len(prefix):]
    out: dict[str, dict[str, float]] = {}
    for s in stages:
        ph = phase_by_stage.get(s.get("stageId"))
        if ph is None:
            continue
        a = out.setdefault(
            ph,
            {
                "task_time_sec": 0.0,
                "cpu_sec": 0.0,
                "deser_cpu_sec": 0.0,
                "gc_sec": 0.0,
                "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mem_mb": 0.0,
                "spill_disk_mb": 0.0,
                "input_mb": 0.0,
                "num_tasks": 0,
                "max_task_sec": 0.0,
                "n_stages": 0,
            },
        )
        a["task_time_sec"] += s.get("executorRunTime", 0) / 1e3
        a["cpu_sec"] += s.get("executorCpuTime", 0) / 1e9
        a["deser_cpu_sec"] += s.get("executorDeserializeCpuTime", 0) / 1e9
        a["gc_sec"] += s.get("jvmGcTime", 0) / 1e3
        a["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 2**20
        a["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
        a["spill_mem_mb"] += s.get("memoryBytesSpilled", 0) / 2**20
        a["spill_disk_mb"] += s.get("diskBytesSpilled", 0) / 2**20
        a["input_mb"] += s.get("inputBytes", 0) / 2**20
        a["num_tasks"] += s.get("numCompleteTasks", 0)
        a["n_stages"] += 1
        try:
            q = _get(
                f"applications/{app_id}/stages/{s['stageId']}/"
                f"{s.get('attemptId', 0)}/taskSummary?quantiles=1.0"
            )
            a["max_task_sec"] = max(
                a["max_task_sec"], (q.get("executorRunTime") or [0])[-1] / 1e3
            )
        except Exception:
            pass
    for a in out.values():
        for k, v in a.items():
            a[k] = round(v, 3) if isinstance(v, float) else v
    return out


def timings() -> dict[str, dict[str, float]]:
    return {
        k: {"sec": round(v, 4), "n": _COUNTS[k]}
        for k, v in sorted(_TIMINGS.items(), key=lambda kv: -kv[1])
    }


def reset() -> None:
    _TIMINGS.clear()
    _COUNTS.clear()
