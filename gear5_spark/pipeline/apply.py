"""Micro-batch apply: normalize -> dedup -> MERGE -> lineage, exactly-once.

This is the ``foreachBatch`` body (SURVEY.md §3.1 Spark equivalent). Per
micro-batch:

1. **commit-dedup** (ST1): if the lake table's txn ledger already records
   this (app_id, batch_id), the batch is a checkpoint replay after a crash
   *post-commit* — skip it entirely. Combined with the atomic manifest
   commit this upgrades the reference's at-least-once ack-after-emit
   (``/root/reference/pkg/waljs/waljs.go:252-257``) to exactly-once.
2. **schema discovery** (ST7): detect payload JSON keys unseen so far
   (JVM-side: ``from_json`` to a map + explode keys), extend the persisted
   schema registry additively — this is how a ``tool`` column appearing
   mid-stream becomes a real typed column with null backfill.
3. **normalize**: typed columns + ``_cdc_*`` stamps (operators.normalize).
4. **dedup** (A5): latest event per ``(conv_id, turn_idx)`` by
   ``(lsn, txn_seq)`` inside the one shuffle that places the batch by
   the table's placement slot (``LakeTable.place``). The placement
   buckets on the full key, so it also spreads a hot ``conv_id``.
5. **MERGE** with LSN order-guard + lineage row embedded in the same
   atomic commit (lsn range, event count, txn-ids hash — FIXTURES.md §4).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gear5_spark.lake.merge import merge_into
from gear5_spark.lake.table import (
    BUCKET_COL,
    SLOT_COL,
    LakeTable,
    Snapshot,
    footer_min_max,
)
from gear5_spark.operators.dedup import latest_per_key
from gear5_spark.operators.infer import infer_token
from gear5_spark.operators.names import sanitize_unique
from gear5_spark.operators.normalize import (
    PayloadField,
    detect_widening,
    normalize_changes,
)

# payload fields every transcripts feed starts with (BASELINE.json
# input_hint); `ts` arrives as epoch-seconds and lands as timestamp.
# Registry entries: output column -> {"type": token, "source": JSON key}
# (tokens: operators/infer.py; sanitized names: operators/names.py).
BASE_PAYLOAD = {
    "role": {"type": "string", "source": "role"},
    "text": {"type": "string", "source": "text"},
    "ts": {"type": "epoch_seconds", "source": "ts"},
}
KEY_COLS = ["conv_id", "turn_idx"]
# feed-meta + engine-internal column names a discovered payload key must
# never shadow (see extend_from_counts)
RESERVED_COLS = {
    "lsn", "txn_id", "txn_seq", "op", "ts_ms", "after_json",
    "_cdc_lsn", "_cdc_updated_at", "_cdc_deleted_at", "_bucket",
    "_src_file",
}

_SAMPLE_PER_KEY = 100  # reference samples 100 records (protocol/discover.go:46)


def _payload_keys(col: str):
    """Top-level JSON key array of a payload column.

    ``json_object_keys`` parses through Spark's shared static Jackson
    factory (``expressions/json/SharedFactory``) — a plausible
    cross-thread contention point at high per-JVM parallelism, so it was
    A/B'd against the per-task-factory alternative
    ``map_keys(from_json(col, "map<string,string>"))`` at 4M docs
    (scripts/diag_jsonkeys.py): json_object_keys wins at BOTH 8 and 32
    cores (25.1 vs 33.5 task-s at 8; 40.1 vs 43.7 at 32) because the
    map parse materializes value strings the caller discards, and its
    32-core task-time inflation (1.6x) matches the box's memory-
    bandwidth ceiling, not lock spin — Jackson's canonicalizer read
    path is lock-free; only the brief child-merge on close syncs.
    Keys-only parsing is therefore the right call at any executor
    width; re-run the A/B if a profile ever shows this stage hot.
    (r6 also tried caching the parsed map alongside the raw docs so
    every consumer reads tokens: clean-window win, but the MapType
    column in the columnar batch cache degraded reproducibly across
    micro-batches — dedup CPU 108 -> 270 -> 428 s over three reps at 8
    cores while the raw-only cache held ~100 — so the per-consumer
    parse stays.)"""
    return F.json_object_keys(col)


def _registry_specs(registry: dict[str, dict]) -> list[PayloadField]:
    return [
        PayloadField(col=name, token=f["type"], source=f["source"])
        for name, f in sorted(registry.items())
    ]


# ----------------------------------------------------------- schema discovery
# The feed sampler (≈ protocol/discover.go:46-90): the applier runs it on
# every batch's winners, ``python -m gear5_spark discover`` on the first
# records of the change log. Neither function writes the registry.


def load_registry(path: str) -> dict[str, dict]:
    """The persisted payload registry at ``path``, or the base payload
    when none was written yet."""
    if os.path.exists(path):
        with open(path) as fh:
            raw = json.load(fh)
        if not (isinstance(raw, dict) and raw.get("version") == 2):
            raise ValueError(
                f"payload registry {path} is not a "
                'version-2 registry ({"version": 2, "fields": '
                '{column: {"type": token, "source": key}}}); '
                "rewrite it in that form"
            )
        return raw["fields"]
    return {k: dict(v) for k, v in BASE_PAYLOAD.items()}


def count_and_discover(src: DataFrame) -> tuple[int, dict[str, int]]:
    """ONE scan returning (row count, per-key counts of every top-level
    payload key).

    The discovery job tokenizes each payload's top-level KEYS once
    (:func:`_payload_keys` — no value copies; factory-contention
    A/B'd, see its docstring), explodes, counts per key — full
    codegen, map-side combined, shuffles only (key, partial count).
    The ROW count rides the same scan as a bare ``count(1)``
    Observation: unlike round 2's regression (a
    ``collect_set(json_object_keys(...))`` metric — the interpreted
    CollectMetrics path burned ~7x codegen CPU,
    DIAG_DEDUP.json), a constant-width count costs nothing on the
    interpreted path, and fusing it here removes what used to be a
    separate full pass over the persisted deduped batch (~2.5 GB of
    cache traffic per 4M-event batch, BENCH_DETAIL stage metrics).

    Grouping is per KEY (bounded by schema width), never per
    key-combination (worst case 2^width) — safe for adversarial
    payloads at scale."""
    import uuid as _uuid

    from pyspark.sql import Observation

    obs = Observation(f"dedup-count-{_uuid.uuid4().hex[:8]}")
    # the NULL of a key-less payload is dropped on the driver, not
    # filtered in the plan (and so are known keys, by the caller):
    # explode_outer emits a row for every input row, so the aggregate is
    # empty exactly when ``src`` is. Only then does AQE's empty-relation
    # propagation re-plan both CollectMetrics nodes away (this one and
    # the applier's batch stats), leaving both Observations empty
    rows = (
        src.observe(obs, F.count(F.lit(1)).alias("n"))
        .select(F.explode_outer(_payload_keys("after_json")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts = {r["k"]: r["c"] for r in rows if r["k"] is not None}
    return (int(obs.get["n"]) if rows else 0), counts


def extend_from_counts(
    src: DataFrame, registry: dict[str, dict], counts: dict[str, int]
) -> dict[str, dict]:
    """Type the keys of ``counts`` that ``registry`` does not know yet and
    return the extended registry (``registry`` itself when nothing is
    new). The caller persists it.

    Job 2 (only when new keys exist): re-scan with a per-key
    hash-sample rate (~4x oversample of the 100-value target) and a
    bounded collect per key, then parse the sampled docs driver-side
    for reference-parity type inference (``typeutils/datatype.go:
    12-40``, sampling like ``protocol/discover.go:46-90``); key
    names sanitized (SafeNameConversion semantics, utils.go:147-185)
    before becoming columns.

    A key observed only with null values (or only in losing events)
    is deferred to a later batch with zero data loss — the winners
    being applied don't carry it."""
    known_sources = {f["source"] for f in registry.values()}
    counts = {k: c for k, c in counts.items() if k not in known_sources}
    if not counts:
        return registry
    oversample = 4 * _SAMPLE_PER_KEY
    rate = F.create_map(
        *[
            F.lit(x)
            for k, c in counts.items()
            for x in (k, min(1.0, oversample / c))
        ]
    )
    sampled = (
        src.select(
            "after_json",
            F.explode(_payload_keys("after_json")).alias("k"),
        )
        .filter(F.col("k").isin(*counts.keys()))
        .filter(
            (
                F.pmod(F.xxhash64("after_json", F.lit(42)), F.lit(1_000_000))
                / 1_000_000.0
            )
            < F.element_at(rate, F.col("k"))
        )
        .groupBy("k")
        .agg(
            F.slice(
                F.collect_list("after_json"), 1, _SAMPLE_PER_KEY
            ).alias("docs")
        )
        .collect()
    )
    vals_by_key: dict[str, list] = {}
    for row in sampled:
        k = row["k"]
        vals = []
        for s in row["docs"]:
            try:
                d = json.loads(s)
            except (TypeError, ValueError):
                continue
            if isinstance(d, dict) and d.get(k) is not None:
                vals.append(d[k])
        if vals:
            vals_by_key[k] = vals
    if not vals_by_key:
        return registry
    updated = dict(registry)
    # feed-meta and engine-internal names are RESERVED: a payload
    # key named 'op' or 'lsn' registered verbatim would collide with
    # the feed column in normalize/stamping (ambiguous reference),
    # and the poisoned registry would re-crash every replay —
    # sanitize_unique renames such keys instead
    name_map = sanitize_unique(
        sorted(vals_by_key),
        taken=set(updated) | set(KEY_COLS) | RESERVED_COLS,
    )
    for k in sorted(vals_by_key):
        updated[name_map[k]] = {
            "type": infer_token(vals_by_key[k]),
            "source": k,
        }
    return updated


@dataclass
class TranscriptsApplier:
    """Stateful foreachBatch callable for the transcripts CDC pipeline."""

    table: LakeTable
    app_id: str
    registry_path: str
    sink_mode: str = "cow"  # cow | mor (delta files + periodic compaction)
    compact_every: int = 8
    quarantine_dir: str | None = None  # dead-letter sink for unkeyable events
    exclude_columns: list[str] = field(default_factory=list)  # P2
    # optional incrementally-maintained derived table
    # (gear5_spark.pipeline.rollup.ConversationRollup); refreshed with
    # the batch's touched conversations after every base commit
    rollup: Any = None
    # batch ids skipped as already committed (checkpoint replays)
    skipped_batches: list[int] = field(default_factory=list, init=False)
    # valid events per surviving key in the last applied batch; the
    # benchmark's tracer reads it (perfbench operators.keys_per_event)
    _last_dup_ratio: float | None = field(default=None, init=False, repr=False)

    def __post_init__(self) -> None:
        if self.rollup is not None:
            # scope the rollup ledger to THIS applier: different base
            # app_ids (bulk vs stream, or two pipelines) have independent
            # batch-id sequences and must not share replay-dedup state.
            # Reusing one rollup object across appliers would silently
            # share (and corrupt) that ledger — refuse it.
            scoped = f"{self.app_id}::rollup"
            if self.rollup.app_id is None:
                self.rollup.app_id = scoped
            elif self.rollup.app_id != scoped:
                raise ValueError(
                    "ConversationRollup is already scoped to "
                    f"'{self.rollup.app_id}' — create a fresh rollup per "
                    "applier (its replay ledger is per-app_id)"
                )
        bad = {"conv_id", "turn_idx"} & set(self.exclude_columns)
        if bad:
            raise ValueError(f"cannot exclude key columns: {sorted(bad)}")

    # ------------------------------------------------------- schema registry
    def load_registry(self) -> dict[str, dict]:
        return load_registry(self.registry_path)

    def save_registry(self, registry: dict[str, dict]) -> None:
        # newest-wins durable replace through the commit backend (ports
        # to a plain PUT / catalog upsert off-POSIX, lake/backend.py)
        self.table.backend.put_replace(
            self.registry_path,
            json.dumps(
                {"version": 2, "fields": registry},
                indent=2,
                sort_keys=True,
            ).encode(),
        )

    # --------------------------------------------------------------- applier
    def __call__(self, batch: DataFrame, batch_id: int) -> Snapshot | None:
        import uuid

        from pyspark.sql import Observation

        last = self.table.last_committed_batch(self.app_id)
        if last is not None and batch_id <= last:
            self.skipped_batches.append(batch_id)
            if self.rollup is not None:
                # crash window: base committed, rollup didn't. The
                # rollup's own txn ledger makes this a no-op when it DID
                # commit; when it didn't, the replayed batch's key set
                # (raw, pre-dedup — a superset is fine, recompute is
                # idempotent) catches it up. Without this, the base
                # early-return would leave the rollup stale forever.
                self.rollup.refresh(
                    batch.filter(
                        F.col("conv_id").isNotNull()
                    ),
                    int(batch_id),
                )
            return None  # replayed batch already committed — exactly-once
        # Stats ride the dedup scan as an Observation side-effect — ONE
        # pass over the raw batch computes lsn range, count, txn-set hash
        # and the affected bucket set; no separate stats job. Payload-key
        # discovery deliberately does NOT ride here: CollectMetrics
        # evaluates observation aggregates on the interpreted (non-
        # codegen) path, and a per-row JSON tokenize there cost ~7x the
        # codegen CPU and serialized this phase at 32 cores (measured,
        # DIAG_DEDUP.json) — discovery runs as a normal codegen job over
        # the persisted deduped batch in count_and_discover instead.
        snap0 = self.table.snapshot()
        obs = Observation(f"cdc-stats-{uuid.uuid4().hex[:8]}")
        metrics = [
            F.min("lsn").alias("lsn_min"),
            F.max("lsn").alias("lsn_max"),
            F.count(F.lit(1)).alias("event_count"),
            # hash the (txn_id, txn_seq) PAIR: XOR of per-event hashes
            # of txn_id alone cancels any transaction contributing an
            # even number of events, blinding the audit fingerprint
            F.expr("bit_xor(xxhash64(txn_id, txn_seq))").alias("txn_hash"),
            # affected buckets over VALID rows only — a malformed
            # (null-key) row's hash bucket would otherwise be read and
            # rewritten for nothing every quarantine-bearing batch
            F.collect_set(
                F.when(~malformed_key(), self.table.bucket_expr(snap0))
            ).alias("buckets"),
            F.sum(
                F.when(malformed_key(), 1).otherwise(0)
            ).alias("malformed_count"),
        ]
        # file provenance for per-partition lineage: resolved from the
        # batch's plan (file-index scan) when available — no job, no
        # per-row cost. Streaming micro-batches don't expose inputFiles;
        # there the provenance rides the stats scan as one more metric
        # (batches are maxFilesPerTrigger-bounded, so the per-row
        # input_file_name projection is cheap; it is nondeterministic and
        # must be projected before feeding an Observation aggregate).
        src_files = list(batch.inputFiles())
        collect_provenance = not src_files
        if collect_provenance:
            batch = batch.withColumn("_src_file", F.input_file_name())
            metrics.append(F.collect_set(F.col("_src_file")).alias("src_files"))
        observed = batch.observe(obs, *metrics)
        if collect_provenance:
            observed = observed.drop("_src_file")
        # dead-letter routing: events that cannot be keyed are excluded
        # from the apply and (optionally) appended to a quarantine sink —
        # they are still counted in lineage for audit
        valid = observed.filter(~malformed_key())
        # dedup BEFORE normalize: the JSON of an event that loses the
        # last-write-wins race is never parsed — at high update ratios
        # this cuts from_json work to O(distinct keys), not O(events).
        # Persisting the (smaller) deduped set means the merge never
        # re-scans raw input.
        #
        # The dedup shuffle is FUSED with the table's bucket placement:
        # the one unavoidable shuffle of the raw payload is the table's
        # placement (LakeTable.place), the groupBy then runs
        # exchange-free inside those partitions (slot is in the grouping
        # key and is the partitioning column), and neither the merge
        # join nor the write shuffles the batch again (pre_placed) — one
        # shuffle total per batch (measured: a separate write re-shuffle
        # moved ~1.2 GB both ways per 4M events). The winner cache is
        # built uncompressed (session conf, see session.get_spark).
        #
        # The placement has min(width, n_buckets) slots (LakeTable.placement
        # holds the one rule), so every stage after this exchange, and the
        # write, runs that many tasks. Each slot groups contiguous whole
        # buckets and writes one range file, not one file per bucket; the
        # trade-off is CoW's: a small batch rewrites whole slots of
        # n_buckets / width buckets each (merge_into). MoR reads and
        # compaction place at the same slots (mor.reconstruct), so
        # compaction also writes one file per slot.
        placed, pre_placed = self.table.place(valid, snap0)
        # keep _pslot through the cache: the merge join co-partitions on
        # it (lake/merge.py), so the batch is never re-shuffled after
        # this one placement exchange
        deduped_raw = (
            latest_per_key(placed, KEY_COLS, co_group_cols=[SLOT_COL])
            .drop(BUCKET_COL)
            .persist()
        )
        from gear5_spark.perf import span

        try:
            # one fused job: materializes the persisted deduped batch,
            # counts it (Observation), and discovers unknown payload keys
            # — what used to be dedup_count + registry job 1 as two full
            # passes is now one (VERDICT r3: cut bytes-per-event)
            with span("apply.dedup_count"):
                n_keys, key_counts = count_and_discover(deduped_raw)
            if n_keys == 0:
                # no winners (an empty or all-quarantined batch): AQE's
                # empty-relation propagation re-plans the CollectMetrics
                # node away with the empty discovery aggregate, so the
                # Observation is unfilled — recompute the identical
                # aggregates as an explicit job. Only that batch pays
                # the extra scan.
                stats = batch.agg(*metrics).first().asDict()
            else:
                stats = obs.get
                if "event_count" not in stats:
                    raise RuntimeError(f"batch {batch_id}: empty stats observation")
            if stats.get("malformed_count") and self.quarantine_dir:
                # idempotent per batch: the dead-letter write is OUTSIDE
                # the atomic commit, so a crash-then-replay would append
                # duplicates — overwrite into a batch_id subdir instead
                batch.filter(malformed_key()).drop("_src_file").write.mode(
                    "overwrite"
                ).parquet(
                    os.path.join(self.quarantine_dir, f"batch_id={batch_id}")
                )
            if n_keys == 0:
                if int(stats.get("malformed_count") or 0) > 0:
                    # every event was quarantined: commit a data-less
                    # snapshot so the batch's lineage (and its
                    # malformed_count) reaches the audit trail and the
                    # txn ledger advances — the dead-letter contract
                    # says quarantined events are still COUNTED
                    cur = self.table.snapshot()
                    return self.table.commit(
                        files=cur.files,
                        txn_app_id=self.app_id,
                        txn_batch_id=int(batch_id),
                        lineage={
                            **_batch_lineage(batch_id, stats),
                            "quarantined_only": True,
                        },
                        basis=cur,
                    )
                return None

            valid_events = int(stats["event_count"]) - int(
                stats.get("malformed_count") or 0
            )
            self._last_dup_ratio = valid_events / n_keys

            # discovery AFTER dedup is safe: dedup is payload-agnostic, so
            # newly observed keys just extend the schema the (already
            # materialized) survivors are parsed with; sampling the
            # persisted deduped set costs memory reads, never a source
            # rescan
            registry0 = self.load_registry()
            with span("apply.extend_registry"):
                registry = extend_from_counts(
                    deduped_raw, registry0, key_counts
                )
            # P2 column exclusion happens BEFORE the parse: an excluded
            # payload field is never extracted, never typed, never lands
            # (the reference declares ExcludeColumns but never applies it,
            # types/stream_configured.go:18)
            specs = [
                s
                for s in _registry_specs(registry)
                if s.col not in set(self.exclude_columns)
            ]
            # ST7 beyond-additive: a registered scalar key whose values
            # flip to a wider NUMERIC type (long→double, boolean→long) is
            # re-registered BEFORE the parse, and the merge widens the
            # table schema in place (metadata-only,
            # lake/table.read_file_entries). No job unless a registered
            # token is boolean or long.
            with span("apply.widen_detect"):
                flips = detect_widening(deduped_raw, specs)
            if flips:
                registry = {
                    **registry,
                    **{c: {**registry[c], "type": t} for c, t in flips.items()},
                }
                specs = [
                    PayloadField(
                        col=s.col,
                        token=flips.get(s.col, s.token),
                        source=s.source,
                    )
                    for s in specs
                ]
            if registry != registry0:
                # the one registry write of the batch, before its commit
                self.save_registry(registry)
            deduped = normalize_changes(
                deduped_raw, specs, carry_cols=(SLOT_COL,)
            )
            lineage = {
                **_batch_lineage(batch_id, stats),
                "dedup_plan": "fused",
                # snapshot_version is stamped by commit itself (the only
                # value that survives an OCC rebase)
            }
            if collect_provenance:
                src_files = list(stats.get("src_files") or [])
            with span("apply.partition_lineage"):
                prov = _partition_lineage(src_files)
            # footer stats describe whole files; only record them when
            # EVERY source footer was read and their row total reconciles
            # with the batch (a filtered batch — an lsn-bounded replay, a
            # stream's slice of a shared feed — must not get whole-file
            # stats) — otherwise say why nothing was recorded
            if prov.note is None and prov.total_rows == int(
                stats["event_count"]
            ):
                if prov.recorded:
                    lineage["partitions"] = prov.recorded
                    if prov.truncated:
                        lineage["partitions_truncated"] = prov.truncated
            elif src_files:
                lineage["partitions_note"] = prov.note or (
                    "source files are filtered by this batch; "
                    "file-granular footer stats omitted"
                )
            affected = list(stats["buckets"] or [])
            if self.sink_mode == "mor":
                from gear5_spark.lake.mor import compact, merge_delta

                with span("apply.merge_delta"):
                    snap = merge_delta(
                        self.table,
                        deduped,
                        txn_app_id=self.app_id,
                        txn_batch_id=int(batch_id),
                        lineage=lineage,
                        pre_placed=pre_placed,
                    )
                # bound read amplification: fold deltas into base
                # periodically (its own atomic commit, no txn id — derived
                # state, safe to redo after a crash)
                if self.compact_every and (batch_id + 1) % self.compact_every == 0:
                    with span("apply.compact"):
                        compact(self.table)
                if self.rollup is not None:
                    self.rollup.refresh(deduped_raw, int(batch_id))
                return snap
            with span("apply.merge"):
                snap, _ = merge_into(
                    self.table,
                    deduped,
                    txn_app_id=self.app_id,
                    txn_batch_id=int(batch_id),
                    lineage=lineage,
                    affected_buckets=affected,
                    pre_placed=pre_placed,
                )
            if self.rollup is not None:
                self.rollup.refresh(deduped_raw, int(batch_id))
            return snap
        finally:
            # blocking: the next batch's (uncompressed) winner cache must
            # not race stale blocks for storage memory — async release
            # let evicted-block churn snowball across micro-batches
            deduped_raw.unpersist(blocking=True)


def _batch_lineage(batch_id: int, stats: dict) -> dict:
    """The lineage fields every committed batch records, from the stats
    Observation. A feed may carry NULL lsn on every row (broken feeds
    are what the dead-letter path is for): the lineage lsn columns are
    nullable longs."""

    def _lsn(v):
        return int(v) if v is not None else None

    return {
        "batch_id": int(batch_id),
        "lsn_min": _lsn(stats.get("lsn_min")),
        "lsn_max": _lsn(stats.get("lsn_max")),
        "event_count": int(stats["event_count"]),
        "txn_ids_hash": format(stats["txn_hash"] & ((1 << 64) - 1), "x"),
        "malformed_count": int(stats.get("malformed_count") or 0),
    }


def malformed_key():
    """Events that cannot participate in the keyed apply (null key parts
    — a feed bug; the reference would emit them as-is, we quarantine)."""
    return F.col("conv_id").isNull() | F.col("turn_idx").isNull()


_PARTITION_RECORD_CAP = 128  # entries stored in the manifest
_PARTITION_READ_CAP = 4096  # footers opened for reconciliation


@dataclass
class _Provenance:
    recorded: list[dict] = field(default_factory=list)
    truncated: int = 0  # readable files beyond the record cap
    total_rows: int = -1  # sum over ALL readable footers (-1 = unusable)
    note: str | None = None  # why nothing can be recorded


def _partition_lineage(
    src_files: list[str],
    record_cap: int = _PARTITION_RECORD_CAP,
    read_cap: int = _PARTITION_READ_CAP,
) -> _Provenance:
    """Per-source-partition lineage for a micro-batch: one entry per
    input file with its row count and lsn offset range, read from the
    parquet FOOTER (row-group statistics) — O(files) driver-side
    metadata reads, bounded by ``maxFilesPerTrigger``, no data scanned.

    ``src_files`` is the batch's ``DataFrame.inputFiles()`` — resolved
    from the plan's file index, no job. EVERY footer (up to
    ``read_cap``) is read so the caller can reconcile the file-row
    total against the batch's event count; only the first
    ``record_cap`` entries are stored, with the overflow surfaced as a
    truncation count. Unreadable files (non-local URIs, moved files)
    and batches beyond ``read_cap`` poison reconciliation, so the
    caller records an explanatory note instead of wrong stats — caps
    and failures are never silent."""
    import pyarrow.parquet as pq

    names = sorted(f for f in src_files if f)
    if not names:
        return _Provenance()
    if len(names) > read_cap:
        return _Provenance(
            note=f"{len(names)} source files exceed the {read_cap}-footer "
            "read cap; partition lineage skipped"
        )
    prov = _Provenance(total_rows=0)
    unreadable = 0
    for uri in names:
        path = uri
        if path.startswith("file:"):
            from urllib.parse import unquote, urlparse

            path = unquote(urlparse(path).path)
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            unreadable += 1
            continue
        prov.total_rows += int(md.num_rows)
        if len(prov.recorded) >= record_cap:
            prov.truncated += 1
            continue
        entry: dict = {
            "path": os.path.basename(path),
            "rows": int(md.num_rows),
        }
        if "lsn" in md.schema.names:
            mm = footer_min_max(md, md.schema.names.index("lsn"))
            if mm is not None:
                entry["lsn_min"], entry["lsn_max"] = int(mm[0]), int(mm[1])
        prov.recorded.append(entry)
    if unreadable:
        prov.total_rows = -1
        prov.note = (
            f"{unreadable} of {len(names)} source footers unreadable "
            "(non-local or moved); partition lineage omitted"
        )
    return prov
