"""``perf.span`` job groups on a tracked session: Spark job groups are
per thread, so two streams sharing one session must each get their own
parent group back when a nested span exits. No Spark: a fake context
records ``setJobGroup`` per thread."""

from __future__ import annotations

import threading

from gear5_spark import perf


class _FakeContext:
    def __init__(self):
        self.calls: dict[str, list] = {}

    def _record(self, group):
        name = threading.current_thread().name
        self.calls.setdefault(name, []).append(group)

    def setJobGroup(self, group_id, description):
        self._record(group_id)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self._record(value)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_nested_spans_restore_their_own_threads_parent_group():
    session = _FakeSession()
    a_inner_open = threading.Event()
    b_inner_open = threading.Event()
    a_inner_closed = threading.Event()
    errors = []

    def stream_a():
        with perf.span("a.outer"):
            with perf.span("a.inner"):
                a_inner_open.set()
                b_inner_open.wait(10)
            a_inner_closed.set()

    def stream_b():
        a_inner_open.wait(10)
        with perf.span("b.outer"):
            with perf.span("b.inner"):
                b_inner_open.set()
                a_inner_closed.wait(10)

    perf.track(session)
    try:
        threads = [
            threading.Thread(target=f, name=f.__name__) for f in (stream_a, stream_b)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(20)
            if t.is_alive():
                errors.append(t.name)
    finally:
        perf.untrack()
    assert not errors
    calls = session.sparkContext.calls
    assert calls["stream_a"] == ["g5:a.outer", "g5:a.inner", "g5:a.outer", None]
    assert calls["stream_b"] == ["g5:b.outer", "g5:b.inner", "g5:b.outer", None]


def test_stage_metrics_reads_tasks_cpu_and_deserialization_per_phase(monkeypatch):
    """``stage_metrics`` folds the UI REST API's stages into the phase of
    the job group that ran them; canned JSON stands in for the UI."""
    import io
    import json
    import urllib.request

    jobs = [
        {"jobGroup": "g5:m:apply.dedup_count", "stageIds": [1, 2]},
        {"jobGroup": "g5:m:apply.merge", "stageIds": [3]},
        {"jobGroup": "g5:other", "stageIds": [4]},
        {"stageIds": [5]},
    ]

    def stage(sid, tasks, cpu_ns, deser_ns):
        return {
            "stageId": sid, "attemptId": 0, "numCompleteTasks": tasks,
            "executorRunTime": 1000 * tasks, "executorCpuTime": cpu_ns,
            "executorDeserializeCpuTime": deser_ns,
        }

    stages = [
        stage(1, 8, 1_500_000_000, 40_000_000),
        stage(2, 30, 500_000_000, 260_000_000),
        stage(3, 8, 2_000_000_000, 100_000_000),
        stage(4, 99, 9_000_000_000, 9_000_000_000),
        stage(5, 99, 9_000_000_000, 9_000_000_000),
    ]
    base = "http://ui.test:4040/api/v1/"
    canned = {
        "applications": [{"id": "app-1"}],
        "applications/app-1/jobs": jobs,
        "applications/app-1/stages?status=complete": stages,
    }

    def urlopen(url, timeout=None):
        path = url[len(base):]
        if "/taskSummary" in path:
            sid = int(path.split("/stages/")[1].split("/")[0])
            body = {"executorRunTime": [250.0 * sid]}
        else:
            body = canned[path]
        return io.BytesIO(json.dumps(body).encode())

    monkeypatch.setattr(urllib.request, "urlopen", urlopen)
    session = _FakeSession()
    session.sparkContext.uiWebUrl = base[: -len("/api/v1/")]
    got = perf.stage_metrics(session, "m:")
    assert set(got) == {"apply.dedup_count", "apply.merge"}
    dedup, merge = got["apply.dedup_count"], got["apply.merge"]
    assert (dedup["num_tasks"], dedup["cpu_sec"], dedup["deser_cpu_sec"]) == (
        38, 2.0, 0.3,
    )
    assert (merge["num_tasks"], merge["cpu_sec"], merge["deser_cpu_sec"]) == (
        8, 2.0, 0.1,
    )
    assert dedup["n_stages"] == 2 and dedup["max_task_sec"] == 0.5
