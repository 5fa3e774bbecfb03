"""The two workloads: ``backfill`` and ``tail``.

Each workload has the same shape, driven by ``run.py``:

- ``inputs(seed)``   make (or fetch from cache) the seeded change logs;
- ``warmup(spark)``  the unmeasured work that must precede timing, run
  once on the run's fresh session and timed into ``setup_s``;
- ``measure(spark)`` the timed window. It also checks every result against
  the oracle and writes the end-to-end metrics of BENCHMARK.json.

Both workloads report the same figures: ``events_per_cpu_s`` (bounded)
is the change events applied per CPU-second; on the wall clock
``events_per_s`` is the rate at which a backlog of change events becomes
visible in the table, ``freshness_p50_s``/``freshness_p75_s`` how long a
change waits between arriving in the feed and the commit that makes it
visible. README.md states what each one measures on each workload.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

import oracle
from common import (
    BENCH_DIR,
    N_BUCKETS,
    Outcome,
    changelog,
    chunk_files,
    cpu_seconds,
    median,
    quantile,
)


def _new_table(spark, path: str):
    from gear5_spark.pipeline.runner import bootstrap_table

    shutil.rmtree(path, ignore_errors=True)
    return bootstrap_table(spark, path, n_buckets=N_BUCKETS)


def _check_table(out: Outcome, table, state, what: str) -> None:
    expected = oracle.live(state)
    bad = oracle.mismatches(oracle.engine_rows(table.read()), expected)
    out.check(bad == 0, f"{what}: {bad} rows differ from the oracle")
    out.detail[f"{what}_rows_checked"] = expected.num_rows


def _bytes(log: str, names: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(log, n)) for n in names)


class Backfill:
    """Closed-loop bulk replays of one seeded log into empty tables."""

    def __init__(self, scale: dict, work: str, seconds: float) -> None:
        self.s, self.work, self.seconds = scale, work, seconds
        self.k = 0

    def inputs(self, seed: int) -> float:
        s = self.s
        self.log, self.manifest, gen_s = changelog(
            seed, s["events"], s["events"] // s["chunks"], s["convs"]
        )
        self.state = oracle.fold([os.path.join(self.log, f) for f in chunk_files(self.log)])
        return gen_s

    def _replay(self, spark, log: str) -> tuple[object, float]:
        """Replay ``log`` into a fresh empty table; the previous replay's
        table is deleted first so disk use stays flat."""
        from gear5_spark.pipeline.runner import replay_batch

        prev = os.path.join(self.work, f"replay-{self.k}")
        shutil.rmtree(prev, ignore_errors=True)
        shutil.rmtree(prev + "-ckpt", ignore_errors=True)
        self.k += 1
        path = os.path.join(self.work, f"replay-{self.k}")
        table = _new_table(spark, path)
        t0 = time.perf_counter()
        replay_batch(spark, log, table, path + "-ckpt")
        return table, time.perf_counter() - t0

    def warmup(self, spark) -> None:
        """Replays of the same log: same scale, same code paths."""
        for _ in range(self.s["warm_replays"]):
            self._replay(spark, self.log)

    def measure(self, spark) -> tuple[Outcome, dict]:
        out = Outcome()
        events = self.manifest["n_events"]
        live_rows = self.manifest["final_live_keys"]
        times, cpu, deadline = [], [], time.perf_counter() + self.seconds
        while time.perf_counter() < deadline or len(times) < self.s["min_replays"]:
            c0 = cpu_seconds()
            table, sec = self._replay(spark, self.log)
            cpu.append(cpu_seconds() - c0)
            times.append(sec)
            rows = sum(f["rows"] for f in table.snapshot().files)
            out.check(rows == live_rows, f"replay committed {rows} rows, want {live_rows}")
        _check_table(out, table, self.state, "backfill_table")
        # every event of a replay becomes visible at its one commit, so an
        # event's freshness is its replay's wall time
        out.metrics["events_per_cpu_s"] = median([events / c for c in cpu])
        out.wall.update(
            events_per_s=median([events / t for t in times]),
            freshness_p50_s=median(times),
            freshness_p75_s=quantile(times, 0.75),
        )
        out.detail.update(
            events=events, replays=len(times),
            replay_s=[round(t, 3) for t in times], replay_cpu_s=[round(c, 3) for c in cpu],
        )
        return out, {"feed_bytes": len(times) * _bytes(self.log, chunk_files(self.log))}


class Tail:
    """Streaming MoR tail: a burst backlog to catch up on, then an open loop."""

    def __init__(self, scale: dict, work: str, seconds: float) -> None:
        self.s, self.work, self.seconds = scale, work, seconds
        # chunk -> commit time, read from each new snapshot's lineage entry
        # as the table's version advances
        self.committed: dict[str, float] = {}

    def inputs(self, seed: int) -> float:
        s = self.s
        rows = s["chunk_rows"]
        open_chunks = math.ceil(self.seconds * s["rate"] / rows)
        n = (s["warm_chunks"] + s["backlog_chunks"] + open_chunks) * rows
        self.log, self.manifest, gen_s = changelog(seed, n, rows, s["convs"])
        return gen_s

    def _land(self, names: list[str]) -> None:
        """Copy chunks under hidden temp names (the source skips them),
        then rename them all into place at once."""
        for n in names:
            shutil.copyfile(os.path.join(self.log, n), os.path.join(self.live, f".landing-{n}"))
        for n in names:
            os.rename(os.path.join(self.live, f".landing-{n}"), os.path.join(self.live, n))

    def _wait_for(self, chunks: list[str], limit: float) -> bool:
        end = time.time() + limit
        while time.time() < end:
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            for v in range(self.version + 1, self.table.current_version() + 1):
                for e in self.table.snapshot(v).lineage:
                    for p in e.get("partitions", []):
                        self.committed.setdefault(p["path"], e["committed_at_ms"] / 1e3)
                self.version = v
            if all(c in self.committed for c in chunks):
                return True
            time.sleep(0.02)
        return False

    def warmup(self, spark) -> None:
        """Start the tail query and feed it the log's first chunks one at a
        time: its JIT-cold first micro-batches belong to set-up."""
        from gear5_spark.pipeline.runner import run_stream

        self.live = os.path.join(self.work, "live")
        os.makedirs(self.live)
        self.table = _new_table(spark, os.path.join(self.work, "tail"))
        self.version = self.table.current_version()
        self.query = run_stream(
            spark, self.live, self.table, os.path.join(self.work, "tail-ckpt"),
            sink_mode="mor", available_now=False, processing_time="0 seconds",
            max_files_per_trigger=self.s["mft"],
        )
        for n in chunk_files(self.log)[: self.s["warm_chunks"]]:
            self._land([n])
            if not self._wait_for([n], 120):
                raise RuntimeError(f"the tail query did not apply {n} in 120 s")
        self.warm_progress = len(self.query.recentProgress)

    def measure(self, spark) -> tuple[Outcome, dict]:
        s = self.s
        out = Outcome()
        table, query = self.table, self.query
        names = chunk_files(self.log)
        first = s["warm_chunks"]
        backlog = names[first: first + s["backlog_chunks"]]
        open_loop = names[first + s["backlog_chunks"]:]
        backlog_events = len(backlog) * s["chunk_rows"]
        try:
            t_start, c_start = time.time(), cpu_seconds()
            self._land(backlog)
            out.check(self._wait_for(backlog, 120), "catch-up did not finish")
            c_open = cpu_seconds()
            gen = subprocess.Popen(
                [sys.executable, os.path.join(BENCH_DIR, "loadgen.py"), self.log, self.live,
                 repr(time.time() + 0.3), repr(s["chunk_rows"] / s["rate"]), *open_loop],
                stdout=subprocess.PIPE, text=True,
            )
            try:
                landed = json.loads(gen.communicate(timeout=self.seconds + 60)[0])
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            out.check(self._wait_for(open_loop, 60), "stream did not drain the open loop")
            c_end = cpu_seconds()
            progress = [
                json.loads(p.json) for p in query.recentProgress[self.warm_progress:]
            ]
        finally:
            query.stop()
            query.awaitTermination(60)

        # exactly-once: every landed chunk is listed by exactly one
        # committed lineage entry, and the rows of each entry's files add
        # up to its event count
        batches = {r["snapshot_version"]: r.asDict() for r in table.lineage_df().collect()}
        parts = [r.asDict() for r in table.partition_lineage_df().collect()]
        by_chunk: dict[str, list[dict]] = {}
        for p in parts:
            by_chunk.setdefault(p["path"], []).append(p)
        for n in names:
            hits = by_chunk.get(n, [])
            out.check(
                len(hits) == 1 and hits[0]["rows"] == s["chunk_rows"],
                f"chunk {n} is listed by {len(hits)} committed batches",
            )
        for v, b in batches.items():
            rows = sum(p["rows"] for p in parts if p["snapshot_version"] == v)
            out.check(
                rows == b["event_count"],
                f"batch v{v}: its files hold {rows} rows, lineage says {b['event_count']}",
            )
        total = sum(b["event_count"] for b in batches.values())
        want = len(names) * s["chunk_rows"]
        out.check(total == want, f"lineage counts {total} events, {want} landed")

        catchup_end = max(self.committed.get(n, math.inf) for n in backlog)
        fresh = [self.committed.get(x["chunk"], math.inf) - x["due"] for x in landed]
        late = max(x["landed"] - x["due"] for x in landed)
        state = oracle.fold([os.path.join(self.log, n) for n in names])
        _check_table(out, table, state, "tail_table")
        # CPU per event of the catch-up only: between the open loop's
        # batches the trigger loop polls an idle source, and that CPU grows
        # the faster the host runs the batches
        out.metrics["events_per_cpu_s"] = backlog_events / (c_open - c_start)
        out.wall.update(
            events_per_s=backlog_events / (catchup_end - t_start),
            freshness_p50_s=median(fresh),
            freshness_p75_s=quantile(fresh, 0.75),
        )
        out.detail.update(
            backlog_events=backlog_events,
            catchup_s=catchup_end - t_start,
            catchup_cpu_s=c_open - c_start,
            open_loop_cpu_s=c_end - c_open,
            micro_batches=len(batches),
            open_loop_chunks=len(landed),
            offered_events_per_s=s["rate"],
            freshness_samples=len(fresh),
            freshness_p90_s=quantile(fresh, 0.9),
            freshness_s=[round(f, 3) for f in fresh],
            loadgen_late_max_s=late,
        )
        return out, {
            "feed_bytes": _bytes(self.log, names),
            "late_max_s": late,
            "progress": progress,
            "resident_delta_files": sum(
                1 for f in table.snapshot().files if f.get("kind") == "delta"
            ),
        }


WORKLOADS = {"backfill": Backfill, "tail": Tail}
