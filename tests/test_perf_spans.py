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
