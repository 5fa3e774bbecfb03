"""Snapshot-based lake table on parquet — the engine's sink format.

The reference declares a destination interface but never implements one
(``/root/reference/protocol/interface.go:50-54`` ``Adapter.Write``,
``protocol/write.go:6-12`` empty stub); records go to stdout as JSON lines.
This module is the half the reference leaves open, built Iceberg-style:

- a table = a directory of immutable parquet data files + a log of JSON
  snapshot *manifests* under ``_lake/``; the highest ``v%08d.json`` is the
  current state (≈ Iceberg metadata.json + version-hint);
- commits are atomic: manifest written to a temp file then published with
  ``os.link`` (fails if the version already exists → no torn commits; on a
  real deployment this maps to an Iceberg catalog's atomic swap);
- data files are hash-bucketed by key (``bucket(n_buckets, bucket_column)``)
  so MERGE rewrites only affected buckets (copy-on-write at bucket
  granularity) and keyed scans prune files;
- schema lives in the manifest; evolution is additive-only with the
  reference's type-widening lattice (``/root/reference/typeutils/fields.go:
  18-28``) enforced by :mod:`gear5_spark.operators.typing`;
- a per-application transaction ledger (``txn: {app_id: last_batch_id}``)
  rides inside every manifest — the exactly-once commit-dedup primitive
  (≈ Delta's txnAppId/txnVersion; strictly stronger than the reference's
  ack-after-emit at-least-once protocol, ``pkg/waljs/waljs.go:252-257``);
- per-commit lineage (lsn range, event count, snapshot id) is embedded in
  the manifest, making data + state + metrics one atomic unit.

Manifest scale (Iceberg-style, VERDICT r1 #8): each commit writes its NEW
data-file entries into an immutable per-commit manifest file
(``_lake/m-<version>-<uuid>.json``); the snapshot JSON carries only a
*manifest list* — ``[{path, buckets}]`` — naming each live manifest and
which of its buckets are still current (all pruning/rewriting in this
engine is bucket-granular and keeps or drops whole files, so bucket sets
are exact liveness). A data-file entry holds one bucket (``bucket``) or,
for a merge-on-read delta placed by slot, an inclusive bucket range
(``bucket_range: [lo, hi]``); :func:`entry_buckets` is the one reader of
both. Engines that predate range entries must not read a table holding
them (they would fail on the missing ``bucket`` key). Commit
cost is O(new files + number of manifests), NOT O(total files): at 100 TB
with millions of data files the snapshot write stays KB-sized, and reads
resolve manifests through an immutable cache. Lineage is one entry per
snapshot (full history = walk the snapshots), so it never re-serializes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_DIR = "_lake"
DATA_DIR = "data"
# the bucket id travels as a real data column (never path-inferred)
BUCKET_COL = "_bucket"

CDC_LSN = "_cdc_lsn"
CDC_UPDATED_AT = "_cdc_updated_at"
CDC_DELETED_AT = "_cdc_deleted_at"


class ConcurrentCommitError(RuntimeError):
    """Commit refused: txn replay, unrebaseable race, or retries spent."""


class CommitRaceLost(ConcurrentCommitError):
    """Another writer published this exact version first — the commit is
    retryable after rebasing onto the new current snapshot."""


class SchemaEvolutionError(ValueError):
    """Non-additive / narrowing schema change rejected."""


@dataclass
class Snapshot:
    version: int
    snapshot_id: str
    parent_version: int | None
    schema: T.StructType
    properties: dict[str, Any]
    # {"path": rel, "bucket": int | "bucket_range": [lo, hi], "rows": int|None}
    files: list[dict[str, Any]]
    txn: dict[str, int]  # app_id -> last committed batch id
    lineage: list[dict[str, Any]] = field(default_factory=list)
    committed_at_ms: int = 0
    # manifest list: [{"path": "_lake/m-*.json", "buckets": [int]}];
    # None = legacy inline-files snapshot. When present, `files` is the
    # RESOLVED view (populated at load, not serialized).
    manifest_list: list[dict[str, Any]] | None = None

    def to_json(self) -> str:
        d = {
            "version": self.version,
            "snapshot_id": self.snapshot_id,
            "parent_version": self.parent_version,
            "schema": self.schema.jsonValue(),
            "properties": self.properties,
            "txn": self.txn,
            "lineage": self.lineage,
            "committed_at_ms": self.committed_at_ms,
        }
        if self.manifest_list is not None:
            d["manifest_list"] = self.manifest_list
        else:
            d["files"] = self.files
        return json.dumps(d, indent=None, separators=(",", ":"))

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        return Snapshot(
            version=d["version"],
            snapshot_id=d["snapshot_id"],
            parent_version=d.get("parent_version"),
            schema=T.StructType.fromJson(d["schema"]),
            properties=d.get("properties", {}),
            files=d.get("files", []),
            txn=d.get("txn", {}),
            lineage=d.get("lineage", []),
            committed_at_ms=d.get("committed_at_ms", 0),
            manifest_list=d.get("manifest_list"),
        )


def entry_buckets(f: dict[str, Any]) -> range:
    """The buckets a manifest entry holds: its ``bucket``, or every
    bucket of its inclusive ``bucket_range``. Every bucket-granular
    selection goes through here, so a file holding several buckets is
    never mistaken for one (tests/test_bucket_entry_guard.py)."""
    r = f.get("bucket_range")
    if r is not None:
        return range(r[0], r[1] + 1)
    return range(f["bucket"], f["bucket"] + 1)


def touches(f: dict[str, Any], buckets: set[int]) -> bool:
    """True when the entry holds at least one of ``buckets``."""
    return not buckets.isdisjoint(entry_buckets(f))


def _buckets_of(files: list[dict[str, Any]]) -> list[int]:
    return sorted({b for f in files for b in entry_buckets(f)})


def whole_file_scope(files: list[dict[str, Any]], buckets) -> set[int]:
    """Widen ``buckets`` until no file straddles its edge: every file
    holding one of the buckets holds only buckets in the result.

    Rewrite paths (compaction, ``delete_where``, copy-on-write MERGE)
    drop and rewrite whole buckets; widening their scope this way keeps
    liveness whole-file, so a range file is never half-dropped."""
    scope = set(buckets)
    grew = True
    while grew:
        grew = False
        for f in files:
            bs = entry_buckets(f)
            if not scope.isdisjoint(bs) and not scope.issuperset(bs):
                scope.update(bs)
                grew = True
    return scope


@dataclass(frozen=True)
class Placement:
    """Fingerprint of an identity placement (:meth:`LakeTable.placement_expr`).

    A write may skip its own repartition only when the placement the
    caller partitioned by still equals the one its snapshot implies; any
    drift (bucket count, bucket columns, slot count) falls back to the
    write's own repartition."""

    n_buckets: int
    bucket_columns: tuple[str, ...]
    n_slots: int

    def slot_of(self, bucket: int) -> int:
        """The slot that holds ``bucket`` when slots group whole buckets
        (``n_slots < n_buckets``); the bucket itself otherwise (each
        slot then holds part of one bucket)."""
        return bucket * min(self.n_slots, self.n_buckets) // self.n_buckets


# session-wide cache: slot-count -> identity partition map (pure function
# of Murmur3, independent of table)
_IDENT_MAP_CACHE: dict[int, list[int]] = {}


def identity_slot_expr(n_slots: int, slot_expr, n_fine: int | None = None):
    """Int expression whose ``repartition(n_slots, ...)`` hash-partition
    slot equals ``slot_expr * n_slots // n_fine`` (``slot_expr`` an int
    column in [0, n_fine); ``n_fine`` defaults to ``n_slots``, i.e. the
    slot is ``slot_expr`` itself).

    ``repartition(n, col)`` places a row in ``pmod(murmur3(col), n)``;
    we precompute, per slot s, an integer x_s with
    ``pmod(hash(x_s), n) == s`` (driver-side Murmur3 probe, no Spark
    job — ``murmur3_int32`` matches ``F.hash`` exactly, pinned by
    tests/test_lake_table.py) and partition on ``x_[slot]``. The
    ``n_fine → n_slots`` grouping is folded into the same literal array,
    so the row-side cost is one array lookup either way."""
    cache = _IDENT_MAP_CACHE.get(n_slots)
    if cache is None:
        from gear5_spark.lake.xxh64 import murmur3_int32

        mapping: dict[int, int] = {}
        x = 0
        while len(mapping) < n_slots:
            mapping.setdefault(murmur3_int32(x) % n_slots, x)
            x += 1
        cache = [mapping[s] for s in range(n_slots)]
        _IDENT_MAP_CACHE[n_slots] = cache
    n_fine = n_fine or n_slots
    arr = F.array(*[F.lit(cache[i * n_slots // n_fine]) for i in range(n_fine)])
    return F.element_at(arr, slot_expr + 1)

# manifest files are immutable once written — cache their entries
# process-wide (bounded FIFO; re-read is cheap if evicted)
_MANIFEST_FILE_CACHE: dict[str, list[dict[str, Any]]] = {}
_MANIFEST_CACHE_MAX = 4096


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, MANIFEST_DIR, f"v{version:08d}.json")


def _load_manifest(table_dir: str, rel_path: str) -> list[dict[str, Any]]:
    full = os.path.join(table_dir, rel_path)
    cached = _MANIFEST_FILE_CACHE.get(full)
    if cached is None:
        with open(full) as fh:
            cached = json.load(fh)["files"]
        if len(_MANIFEST_FILE_CACHE) >= _MANIFEST_CACHE_MAX:
            _MANIFEST_FILE_CACHE.pop(next(iter(_MANIFEST_FILE_CACHE)))
        _MANIFEST_FILE_CACHE[full] = cached
    return cached


def _json_stat(v: Any) -> Any:
    """Canonical JSON-safe form for a parquet stat value (and for filter
    operands, so comparisons are always like-vs-like): timestamps/dates
    become epoch microseconds (naive = UTC, matching the session tz),
    bytes decode to str, scalars pass through."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int(
            (v - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
    if isinstance(v, _dt.date):
        return int(
            (
                _dt.datetime(v.year, v.month, v.day) - _dt.datetime(1970, 1, 1)
            ).total_seconds()
            * 1_000_000
        )
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="surrogateescape")
    return v


def _collect_file_stats(
    meta, stat_idx: dict[str, int] | None
) -> dict[str, list[Any]]:
    """Per-file [min, max] for the chosen columns, folded across row
    groups from footer statistics. Writer-truncated string bounds stay
    valid bounds (prefix min / incremented max), so pruning on them is
    conservative-correct. Columns without stats (e.g. all-null) are
    omitted — absence means 'cannot prune'."""
    out: dict[str, list[Any]] = {}
    for col, idx in (stat_idx or {}).items():
        lo = hi = None
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and lo is not None:
            out[col] = [_json_stat(lo), _json_stat(hi)]
    return out


def _file_may_match(
    entry: dict[str, Any], col: str, op: str, val: Any
) -> bool:
    st = entry.get("stats", {}).get(col)
    if not st:
        return True  # no stats recorded -> cannot prune
    lo, hi = st
    if lo is None or hi is None:
        return True
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
    except TypeError:  # mixed-type comparison -> keep the file
        return True
    return True


def _resolve_files(
    table_dir: str, manifest_list: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    out: list[dict[str, Any]] = []
    for m in manifest_list:
        live = set(m["buckets"])
        phys = m.get("physical") or {}
        for f in _load_manifest(table_dir, m["path"]):
            # liveness is whole-file (_build_manifest_list refuses a
            # partial drop), so any live bucket means the whole file
            if not touches(f, live):
                continue
            # in-place widening era markers: every file of this manifest
            # was written BEFORE the widen commit(s) that stamped the
            # manifest-LIST entry, so its parquet columns carry those
            # narrower physical types — the read path casts through
            # them. An ENTRY-level map (baked in when rewrite_manifests
            # folds resolved entries into a fresh manifest) wins over
            # the list-level map: it records the file's ORIGINAL written
            # type, which a widen that happened after the fold must not
            # overwrite (list-level would claim the pre-THAT-widen type,
            # wrong for a file two eras old).
            entry_phys = f.get("physical") or {}
            merged = {**phys, **entry_phys}
            if merged:
                f = dict(f)
                f["physical"] = merged
            out.append(f)
    return out


def read_file_entries(
    spark,
    table_dir: str,
    files: list[dict[str, Any]],
    read_schema: T.StructType,
    buckets: set[int] | None = None,
) -> DataFrame:
    """Read manifest entries as ``read_schema``, casting through their
    ``physical`` era annotations (in-place column widening,
    :meth:`LakeTable.widen_column` / ``merge_schemas(allow_widen=True)``).

    ``buckets``: keep only rows of these buckets. Needed when a read
    wants some of a range file's buckets; the ``_bucket`` filter sits on
    the scan itself, so parquet pushdown skips row groups.

    Entries are grouped by physical-type signature — one parquet scan
    per WRITE ERA, each opened with the types its files actually hold,
    cast up to the logical schema, then unioned. A widen is therefore a
    metadata-only commit (no data file rewritten — at 100 TB a retype
    must not be an O(table) rewrite; same stance as Iceberg/Delta type
    widening). Era count is O(#widen commits) and every rewrite path
    (merge, compaction, rebucket) re-types the files it touches, so
    eras decay to one; each union branch keeps its own parquet pushdown
    and the un-widened columns' filters still reach the scan."""
    names = {f.name for f in read_schema.fields}
    groups: dict[tuple, list[dict[str, Any]]] = {}
    for e in files:
        phys = e.get("physical") or {}
        key = tuple(sorted((c, t) for c, t in phys.items() if c in names))
        groups.setdefault(key, []).append(e)
    parts = []
    for key in sorted(groups):
        over = dict(key)
        era_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T._parse_datatype_string(over[f.name])
                    if f.name in over
                    else f.dataType,
                    True,
                )
                for f in read_schema.fields
            ]
        )
        paths = [os.path.join(table_dir, e["path"]) for e in groups[key]]
        df = spark.read.schema(era_schema).parquet(*paths)
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(sorted(buckets)))
        if over:
            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in read_schema.fields
                ]
            )
        parts.append(df)
    if not parts:
        return spark.createDataFrame([], read_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class LakeTable:
    """A bucketed, snapshot-versioned parquet table with atomic commits."""

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        backend: "CommitBackend | None" = None,
    ):
        from gear5_spark.lake.backend import CommitBackend, PosixBackend

        self.spark = spark
        self.table_dir = os.path.abspath(table_dir)
        # every metadata mutation funnels through two backend primitives
        # (snapshot CAS + newest-wins replace) so the commit protocol
        # ports to object stores / catalogs — see lake/backend.py
        self.backend: CommitBackend = backend or PosixBackend()

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        table_dir: str,
        schema: T.StructType,
        key_columns: list[str],
        bucket_columns: list[str] | str | None = None,
        n_buckets: int = 16,
        if_not_exists: bool = False,
        extra_properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        t = cls(spark, table_dir)
        if t.exists():
            if if_not_exists:
                return t
            raise FileExistsError(f"table already exists: {table_dir}")
        names = {f.name for f in schema.fields}
        missing = [k for k in key_columns if k not in names]
        if missing:
            raise ValueError(f"key columns not in schema: {missing}")
        os.makedirs(os.path.join(t.table_dir, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.table_dir, DATA_DIR), exist_ok=True)
        snap = Snapshot(
            version=0,
            snapshot_id=uuid.uuid4().hex,
            parent_version=None,
            schema=schema,
            properties={
                "key_columns": key_columns,
                "bucket_columns": (
                    [bucket_columns]
                    if isinstance(bucket_columns, str)
                    else (bucket_columns or list(key_columns))
                ),
                "n_buckets": n_buckets,
                **(extra_properties or {}),
            },
            files=[],
            txn={},
            committed_at_ms=int(time.time() * 1000),
            manifest_list=[],
        )
        t._publish(snap)
        return t

    def exists(self) -> bool:
        d = os.path.join(self.table_dir, MANIFEST_DIR)
        return os.path.isdir(d) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(d)
        )

    # ------------------------------------------------------------- snapshots
    def current_version(self) -> int:
        d = os.path.join(self.table_dir, MANIFEST_DIR)
        versions = [
            int(f[1:9])
            for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        ]
        if not versions:
            raise FileNotFoundError(f"no snapshots in {d}")
        return max(versions)

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        path = _manifest_path(self.table_dir, v)
        try:
            with open(path) as fh:
                snap = Snapshot.from_json(fh.read())
        except FileNotFoundError:
            raise FileNotFoundError(
                f"snapshot v{v} not found in {self.table_dir} — "
                "expired (expire_snapshots) or never committed"
            ) from None
        if snap.manifest_list is not None:
            snap.files = _resolve_files(self.table_dir, snap.manifest_list)
        return snap

    def _list_versions(self) -> list[int]:
        d = os.path.join(self.table_dir, MANIFEST_DIR)
        return sorted(
            int(f[1:9])
            for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        )

    def history(self) -> list[Snapshot]:
        """Every RETAINED snapshot, oldest first (versions expired by
        :meth:`expire_snapshots` are absent)."""
        return [self.snapshot(v) for v in self._list_versions()]

    # ----------------------------------------------------------------- reads
    @property
    def schema(self) -> T.StructType:
        return self.snapshot().schema

    def _read_schema(self, snap: Snapshot) -> T.StructType:
        fields = list(snap.schema.fields)
        fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        return T.StructType(fields)

    def read(
        self,
        snapshot: Snapshot | None = None,
        buckets: list[int] | None = None,
        with_internal: bool = False,
    ) -> DataFrame:
        """Current (or given) snapshot as a DataFrame.

        ``buckets`` prunes at the file level using manifest metadata — the
        scan never opens a file holding none of the buckets (the moral
        equivalent of Iceberg partition pruning on ``bucket(conv_id)``);
        rows of a range file's other buckets are filtered on ``_bucket``.
        """
        snap = snapshot or self.snapshot()
        files = snap.files
        want = None
        if buckets is not None:
            want = set(buckets)
            files = [f for f in files if touches(f, want)]
        return self._read_files(snap, files, with_internal, buckets=want)

    def _read_files(
        self,
        snap: Snapshot,
        files: list[dict[str, Any]],
        with_internal: bool = False,
        buckets: set[int] | None = None,
    ) -> DataFrame:
        """Read ``files``; ``buckets`` (when given) is the set of buckets
        the caller selected them for — the rows of any other bucket a
        range file holds are filtered out."""
        if buckets is not None and all(
            buckets.issuperset(entry_buckets(f)) for f in files
        ):
            buckets = None  # every file lies inside the selection
        if any(f.get("kind") == "delta" for f in files):
            # MoR snapshot: merge base + deltas at read time
            from gear5_spark.lake.mor import reconstruct

            return reconstruct(
                self, snap, files, with_internal=with_internal, buckets=buckets
            )
        read_schema = self._read_schema(snap)
        df = read_file_entries(
            self.spark, self.table_dir, files, read_schema, buckets
        )
        if not with_internal:
            df = df.select(*[f.name for f in snap.schema.fields])
        return df

    _SCAN_OPS = ("=", "<", "<=", ">", ">=")

    def plan_scan(
        self,
        filters: list[tuple[str, str, Any]],
        snapshot: Snapshot | None = None,
    ) -> tuple[list[dict[str, Any]], int]:
        """File-skipping plan: ``(files_to_read, files_skipped)`` for
        conjunctive ``(col, op, value)`` filters, pruned against the
        per-file min/max stats recorded in the manifests at write time.
        No footer is opened — stats-based skipping is pure metadata, so
        a 100 TB table with a tight ``ts`` range reads only the files
        whose range intersects.

        On a MoR snapshot pruning degrades to bucket granularity: a
        bucket is skipped only when NONE of its base or delta files may
        match — pruning a base file whose rows were updated by a kept
        delta (or vice versa) would corrupt reconstruction. A kept delta
        may hold several buckets (range placement); :meth:`scan` then
        reads only the rows of the kept buckets.
        """
        keep, skipped, _buckets = self._plan_scan(filters, snapshot)
        return keep, skipped

    def _plan_scan(
        self,
        filters: list[tuple[str, str, Any]],
        snapshot: Snapshot | None = None,
    ) -> tuple[list[dict[str, Any]], int, set[int] | None]:
        """:meth:`plan_scan` plus the bucket set a MoR read must keep
        rows of (None when every kept file is read whole)."""
        for _c, op, _v in filters:
            if op not in self._SCAN_OPS:
                raise ValueError(f"unsupported scan op {op!r}")
        snap = snapshot or self.snapshot()
        norm = [(c, op, _json_stat(v)) for c, op, v in filters]
        files = snap.files
        keep = [
            f
            for f in files
            if all(_file_may_match(f, c, o, v) for c, o, v in norm)
        ]
        live_buckets = None
        if any(f.get("kind") == "delta" for f in files):
            live_buckets = {b for f in keep for b in entry_buckets(f)}
            keep = [f for f in files if touches(f, live_buckets)]
        return keep, len(files) - len(keep), live_buckets

    def scan(
        self,
        filters: list[tuple[str, str, Any]],
        snapshot: Snapshot | None = None,
        with_internal: bool = False,
    ) -> DataFrame:
        """Filtered read with manifest-stats file skipping: prune via
        :meth:`plan_scan`, read survivors, then apply the exact filters
        as Spark predicates (which also push down into the parquet scan
        for row-group skipping)."""
        snap = snapshot or self.snapshot()
        keep, _skipped, buckets = self._plan_scan(filters, snap)
        df = self._read_files(snap, keep, with_internal, buckets=buckets)
        for c, op, v in filters:
            col = F.col(c)
            df = df.filter(
                {
                    "=": col == F.lit(v),
                    "<": col < F.lit(v),
                    "<=": col <= F.lit(v),
                    ">": col > F.lit(v),
                    ">=": col >= F.lit(v),
                }[op]
            )
        return df

    def bucket_expr(self, snap: Snapshot | None = None):
        """bucket = pmod(xxhash64(bucket cols), n). Default bucket columns
        are the FULL key: a hot entity (one conv_id receiving a large
        share of events) then spreads across all buckets instead of
        turning one bucket into a write/join straggler — point lookups by
        full key still prune to one bucket."""
        snap = snap or self.snapshot()
        cols = snap.properties.get("bucket_columns") or [
            snap.properties.get("bucket_column")
        ]
        n = snap.properties["n_buckets"]
        return F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in cols]), F.lit(n)
        ).cast("int")

    # ---------------------------------------------------------------- writes
    def _publish(self, snap: Snapshot) -> None:
        from gear5_spark.lake.backend import AlreadyExists

        final = _manifest_path(self.table_dir, snap.version)
        try:
            # the version-number CAS: exactly one writer wins — POSIX
            # link locally, conditional PUT / catalog INSERT in an
            # object-store deployment (lake/backend.py contract table)
            self.backend.put_if_absent(final, snap.to_json().encode())
        except AlreadyExists as e:
            raise CommitRaceLost(
                f"version {snap.version} already committed"
            ) from e

    def placement(self, snap: Snapshot, n_slots: int | None = None) -> Placement:
        """The :class:`Placement` that :meth:`placement_expr` builds for
        ``n_slots`` requested slots under ``snap`` (metadata only).

        ``n_slots`` at or above the bucket count sub-splits each bucket
        into ``q = n_slots // n_buckets`` slots (``n_buckets * q`` in
        all; each slot holds part of one bucket). Below it, slots group
        contiguous whole buckets: ``slot = bucket * n_slots // n_buckets``.
        Default: one slot per bucket."""
        n = snap.properties["n_buckets"]
        cols = snap.properties.get("bucket_columns") or [
            snap.properties.get("bucket_column")
        ]
        want = n if n_slots is None else max(1, int(n_slots))
        q = max(1, want // n)
        return Placement(n, tuple(cols), min(want, n * q))

    def placement_expr(self, snap: Snapshot | None = None, n_slots: int | None = None):
        """(placement, column expr) that an UPSTREAM operator can
        ``repartition(placement.n_slots, ...)`` on so every resulting
        partition holds the rows of one slot (see :meth:`placement`) —
        letting :meth:`write_data_files` (via ``pre_placed``) skip its
        own repartition and write the batch WITHOUT a second shuffle of
        the parsed payload.

        One formula covers both regimes: a fine slot
        ``bucket * q + sub`` in ``[0, n_buckets * q)`` maps to
        ``fine * n_slots // (n_buckets * q)``. With ``q > 1`` (copy-on-
        write: upstream parallelism above the bucket count, up to ``q``
        files per bucket per commit) that is the fine slot itself; the
        sub-key hashes the full bucket columns, so all events of one key
        share a slot — a co-located groupBy on (slot, key) is
        shuffle-free. With fewer slots than buckets (merge-on-read sized
        to the shuffle width) each slot holds contiguous whole buckets
        and writes one file covering that bucket range."""
        snap = snap or self.snapshot()
        p = self.placement(snap, n_slots)
        q = max(1, p.n_slots // p.n_buckets)
        fine = F.col(BUCKET_COL) * q
        if q > 1:
            sub = F.pmod(
                F.xxhash64(
                    *[F.col(c).cast("string") for c in p.bucket_columns], F.lit(q)
                ),
                F.lit(q),
            ).cast("int")
            fine = fine + sub
        return p, identity_slot_expr(p.n_slots, fine, p.n_buckets * q)

    def write_data_files(
        self,
        df: DataFrame,
        commit_token: str | None = None,
        n_buckets: int | None = None,
        snap: Snapshot | None = None,
        pre_placed: Placement | None = None,
    ) -> tuple[str, list[dict[str, Any]]]:
        """Write ``df`` (must carry ``_bucket``) as immutable data files.

        By default one plain-parquet file per non-empty bucket under
        ``data/<commit>/`` via identity hash placement (no dynamic-
        partition writer, measured 2.4x slower, and no hash collisions
        mixing buckets); each file's bucket (or bucket range) is
        recovered from its parquet footer statistics (min/max of
        ``_bucket``) — on object stores this footer scan would be
        gathered from task-side write stats instead. Uncommitted
        directories are orphans (cleaned by :meth:`vacuum`), never
        visible to readers — abort safety.

        ``pre_placed``: the caller already partitioned ``df`` upstream
        with :meth:`placement_expr`. When that placement still equals
        the one this write's snapshot implies, the repartition (a full
        shuffle of the parsed batch) is skipped and partitions are
        written as-is: several files per bucket when slots sub-split
        buckets, one file per contiguous bucket range when slots group
        them. Any drift (concurrent rebucket or bucket-column change)
        falls back to the normal repartition, and ``_scan_written``'s
        one-slot-per-file check remains the hard safety net against any
        partition mixing slots.
        """
        import pyarrow.parquet as pq

        from gear5_spark.perf import span

        commit = commit_token or f"c-{uuid.uuid4().hex}"
        rel_dir = os.path.join(DATA_DIR, commit)
        out_dir = os.path.join(self.table_dir, rel_dir)
        # caller's basis snapshot keeps sort/stats config consistent with
        # the commit it computed (and skips a metadata re-read per batch)
        snap = snap or self.snapshot()
        props = snap.properties
        n_buckets = n_buckets or props.get("n_buckets", 16)
        if (
            pre_placed is not None
            and pre_placed.n_buckets == n_buckets
            and pre_placed == self.placement(snap, pre_placed.n_slots)
        ):
            part, placed = df, pre_placed
        else:
            placed = None  # one bucket per partition
            part = df.repartition(
                n_buckets, identity_slot_expr(n_buckets, F.col(BUCKET_COL))
            )
        # opt-in clustering (sort_columns table property): rows sorted
        # within each bucket file — parquet row-group/page stats on the
        # sort key then skip inside the file for point lookups and range
        # reads (Z-order-lite; a local sort, no extra shuffle)
        sort_cols = [c for c in props.get("sort_columns") or [] if c in df.columns]
        if sort_cols:
            part = part.sortWithinPartitions(*sort_cols)
        with span("table.write_parquet"):
            # dictionary encoding off for DATA files: the payload-bearing
            # columns are near-unique (dictionary build runs until the
            # page fills, then falls back — pure CPU), while zstd
            # recovers the low-cardinality columns' redundancy anyway.
            # A/B on the 2.8M-winner batch (8 cores): write 2.3-2.7 s ->
            # 1.8-1.9 s for +0.5% bytes, read-back unchanged. Min/max
            # footer stats (manifest pruning) are independent of
            # dictionary encoding. Per-write option — other parquet
            # writes in the engine keep the default.
            writer = part.write.mode("errorifexists").option(
                "parquet.enable.dictionary", "false"
            )
            writer.parquet(out_dir)
        with span("table.footer_scan"):
            entries = self._scan_written(out_dir, pq, snap, placed)
        return commit, entries

    def _stats_columns(self, meta, snap: Snapshot) -> dict[str, int]:
        """Footer column indexes to collect min/max stats for: the table's
        ``stats_columns`` property, or (default) bucket columns plus any
        timestamp columns — the axes incremental/recency reads filter on."""
        want = snap.properties.get("stats_columns")
        if want is None:
            want = list(
                snap.properties.get("bucket_columns")
                or [snap.properties.get("bucket_column")]
            )
            want += [
                f.name
                for f in snap.schema.fields
                if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
            ]
        names = {
            meta.schema.column(i).name: i for i in range(meta.num_columns)
        }
        return {c: names[c] for c in want if c in names}

    def _scan_written(
        self,
        out_dir: str,
        pq,
        snap: Snapshot | None = None,
        placed: Placement | None = None,
    ) -> list[dict[str, Any]]:
        """Manifest entries for the files a write just produced, with the
        bucket or inclusive bucket range read from each footer's
        ``_bucket`` min/max. ``placed`` is the placement the write
        partitioned by (None: one bucket per partition); a file whose
        range leaves one of its slots was mis-placed and fails the
        write."""
        snap = snap or self.snapshot()
        entries: list[dict[str, Any]] = []
        bucket_idx = None
        stat_idx: dict[str, int] | None = None
        for root, _dirs, names in os.walk(out_dir):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                meta = pq.ParquetFile(full).metadata
                if meta.num_rows == 0:
                    continue
                if bucket_idx is None:
                    bucket_idx = {
                        meta.schema.column(i).name: i
                        for i in range(meta.num_columns)
                    }[BUCKET_COL]
                    stat_idx = self._stats_columns(meta, snap)
                bmin = bmax = None
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(bucket_idx).statistics
                    bmin = st.min if bmin is None else min(bmin, st.min)
                    bmax = st.max if bmax is None else max(bmax, st.max)
                if bmin != bmax and (
                    placed is None or placed.slot_of(bmin) != placed.slot_of(bmax)
                ):  # pragma: no cover - identity map guarantees
                    raise AssertionError(
                        f"file {name} spans buckets {bmin}..{bmax} "
                        "across placement slots"
                    )
                rel = os.path.relpath(full, self.table_dir)
                entry: dict[str, Any] = {"path": rel}
                if bmin == bmax:
                    entry["bucket"] = int(bmin)
                else:
                    entry["bucket_range"] = [int(bmin), int(bmax)]
                entry["rows"] = meta.num_rows
                stats = _collect_file_stats(meta, stat_idx)
                if stats:
                    entry["stats"] = stats
                entries.append(entry)
        return entries

    def _build_manifest_list(
        self,
        parent: Snapshot,
        files: list[dict[str, Any]],
        version: int,
        widened: dict[str, str] | None = None,
    ) -> list[dict[str, Any]]:
        """Diff ``files`` (the full logical set) against the parent:
        entries the parent already tracked stay attributed to their
        original manifests (liveness updated at bucket granularity —
        every rewrite path in this engine keeps or drops whole buckets
        per manifest, widened so a range file is kept or dropped whole:
        a bucket some of whose files survive raises); genuinely new
        entries land in ONE new per-commit manifest file. O(new files +
        manifests), never O(table files).

        ``widened`` ({column: parent physical type}) marks an in-place
        widening commit: every KEPT parent manifest inherits the era map
        (``setdefault`` — a manifest already annotated from an earlier
        widen keeps its own, narrower, written type), while this
        commit's new manifest is written post-widen and needs none."""
        want_paths = {f["path"] for f in files}
        parent_paths = {f["path"] for f in parent.files}
        new_entries = [f for f in files if f["path"] not in parent_paths]

        def _kept_physical(m: dict[str, Any]) -> dict[str, Any]:
            phys = dict(m.get("physical") or {})
            for c, t in (widened or {}).items():
                phys.setdefault(c, t)
            return {"physical": phys} if phys else {}

        m_list: list[dict[str, Any]] = []
        if parent.manifest_list is None:
            # legacy inline-files parent: fold its surviving entries into
            # this commit's manifest (one-time conversion). A widening
            # commit must keep the eras apart — the parent's surviving
            # files (pre-widen physical types) go into their own
            # annotated manifest, this commit's new files into the
            # unannotated one.
            if widened:
                kept = [f for f in files if f["path"] in parent_paths]
                if kept:
                    rel = os.path.join(
                        MANIFEST_DIR,
                        f"m-{version:08d}-{uuid.uuid4().hex[:12]}.json",
                    )
                    self.backend.put_if_absent(
                        os.path.join(self.table_dir, rel),
                        json.dumps(
                            {"files": kept}, separators=(",", ":")
                        ).encode(),
                    )
                    m_list.append(
                        {
                            "path": rel,
                            "buckets": _buckets_of(kept),
                            "physical": dict(widened),
                        }
                    )
            else:
                new_entries = list(files)
        else:
            for m in parent.manifest_list:
                live = set(m["buckets"])
                by_bucket: dict[int, list[str]] = {}
                for f in _load_manifest(self.table_dir, m["path"]):
                    for b in entry_buckets(f):
                        if b in live:
                            by_bucket.setdefault(b, []).append(f["path"])
                keep = []
                for b, paths in by_bucket.items():
                    present = sum(p in want_paths for p in paths)
                    if present == len(paths):
                        keep.append(b)
                    elif present:  # pragma: no cover - no partial paths
                        raise AssertionError(
                            f"partial-bucket drop in {m['path']} bucket {b}"
                        )
                if keep:
                    m_list.append(
                        {
                            "path": m["path"],
                            "buckets": sorted(keep),
                            **_kept_physical(m),
                        }
                    )
        if new_entries:
            rel = os.path.join(
                MANIFEST_DIR, f"m-{version:08d}-{uuid.uuid4().hex[:12]}.json"
            )
            # uniquely named + immutable: referenced only once the
            # snapshot naming it wins the publish CAS
            self.backend.put_if_absent(
                os.path.join(self.table_dir, rel),
                json.dumps(
                    {"files": new_entries}, separators=(",", ":")
                ).encode(),
            )
            m_list.append(
                {
                    "path": rel,
                    "buckets": _buckets_of(new_entries),
                }
            )
        return m_list

    def commit(
        self,
        files: list[dict[str, Any]],
        schema: T.StructType | None = None,
        txn_app_id: str | None = None,
        txn_batch_id: int | None = None,
        lineage: dict[str, Any] | None = None,
        properties: dict[str, Any] | None = None,
        basis: Snapshot | None = None,
    ) -> Snapshot:
        """Publish a new snapshot pointing at ``files`` (the FULL file
        set — internally diffed into per-commit manifests).

        ``basis`` is the snapshot the caller computed ``files`` against.
        Pass it whenever the computation ran a Spark job: a commit that
        landed meanwhile does NOT collide on the version number, so
        without the basis the stale file list would silently drop the
        intervening commit's files — with it, the delta is rebased (or
        a real same-file conflict raises)."""
        from gear5_spark.perf import span

        with span("table.commit"):
            return self._commit(
                files, schema, txn_app_id, txn_batch_id, lineage,
                properties, basis,
            )

    # how many times a commit that loses the publish race rebases onto
    # the winner and retries before giving up
    COMMIT_RETRIES = 3

    def _commit(
        self,
        files: list[dict[str, Any]],
        schema: T.StructType | None,
        txn_app_id: str | None,
        txn_batch_id: int | None,
        lineage: dict[str, Any] | None,
        properties: dict[str, Any] | None = None,
        basis: Snapshot | None = None,
    ) -> Snapshot:
        """Optimistic concurrency: attempt the commit against the current
        snapshot; when the current snapshot has moved past the caller's
        ``basis`` (either before the attempt, or via losing the publish
        race), rebase this commit's file delta onto the winner
        (Iceberg-style validation — every file this commit logically
        removed must still be live in the winner, else the two commits
        rewrote the same data and the race is a REAL conflict) and
        retry. Disjoint-bucket writers and pure appenders (MoR deltas)
        therefore both make progress without coordination; conflicting
        rewrites of the same files raise, and a property-changing commit
        (rebucket) never rebases — its file layout depends on the
        properties, so a race forces a recompute."""
        base = basis if basis is not None else self.snapshot()
        # the physical types this commit's NEW files were written with:
        # the caller's schema, else the basis schema they were computed
        # against — fixed for the whole retry loop even as `schema` is
        # re-merged against successive winners
        written_schema = schema if schema is not None else base.schema
        my_paths = {f["path"] for f in files} - {
            f["path"] for f in base.files
        }
        for _attempt in range(self.COMMIT_RETRIES + 1):
            current = self.snapshot()
            if current.version != base.version:
                if properties is not None and properties != current.properties:
                    raise ConcurrentCommitError(
                        "property-changing commit raced with another "
                        "writer — recompute against the current layout"
                    )
                files = self._rebase_files(base, files, current)
                if schema is not None:
                    from gear5_spark.operators.typing import merge_schemas

                    # allow_widen: a widening commit racing another
                    # writer is safe — _commit_once recomputes the era
                    # map against the WINNER's schema, so the winner's
                    # files (written pre-widen) get annotated too
                    schema, _ = merge_schemas(
                        current.schema, schema, allow_widen=True
                    )
                base = current
                # the MIRROR race: the winner widened past the types
                # this commit's own files were physically written with
                # (merge absorbed our narrow type, so _commit_once sees
                # parent.schema == schema and stamps nothing) — stamp
                # our added files entry-level, the map that wins the
                # read-path merge, or the table becomes unreadable
                # (vectorized parquet: physical INT64 vs logical double)
                final = schema if schema is not None else current.schema
                final_by = {f.name: f.dataType for f in final.fields}
                stamp = {
                    f.name: f.dataType.simpleString()
                    for f in written_schema.fields
                    if f.name in final_by and final_by[f.name] != f.dataType
                }
                if stamp:
                    files = [
                        {**f, "physical": {**stamp, **(f.get("physical") or {})}}
                        if f["path"] in my_paths
                        else f
                        for f in files
                    ]
            try:
                return self._commit_once(
                    base, files, schema, txn_app_id, txn_batch_id,
                    lineage, properties,
                )
            except CommitRaceLost:
                if _attempt == self.COMMIT_RETRIES:
                    raise
                # loop: re-read current, rebase, retry
        raise AssertionError("unreachable")  # pragma: no cover

    def _rebase_files(
        self,
        base: Snapshot,
        files: list[dict[str, Any]],
        winner: Snapshot,
    ) -> list[dict[str, Any]]:
        """Replay this commit's add/remove delta (relative to ``base``)
        on top of ``winner``'s file set. Raises when a file this commit
        removed is no longer live in the winner — both commits rewrote
        the same data and the later one was computed from stale inputs."""
        if winner.properties != base.properties:
            raise ConcurrentCommitError(
                "concurrent table-property change (e.g. rebucket) — "
                "recompute the commit against the new layout"
            )
        mine_paths = {f["path"] for f in files}
        base_paths = {f["path"] for f in base.files}
        added = [f for f in files if f["path"] not in base_paths]
        removed = base_paths - mine_paths
        winner_paths = {f["path"] for f in winner.files}
        gone = removed - winner_paths
        if gone:
            raise ConcurrentCommitError(
                f"conflict: {len(gone)} file(s) this commit rewrote were "
                "concurrently rewritten (first: "
                f"{next(iter(sorted(gone)))})"
            )
        return [
            f for f in winner.files if f["path"] not in removed
        ] + added

    def _commit_once(
        self,
        parent: Snapshot,
        files: list[dict[str, Any]],
        schema: T.StructType | None,
        txn_app_id: str | None,
        txn_batch_id: int | None,
        lineage: dict[str, Any] | None,
        properties: dict[str, Any] | None = None,
    ) -> Snapshot:
        txn = dict(parent.txn)
        if txn_app_id is not None:
            if txn_batch_id is None:
                raise ValueError("txn_batch_id required with txn_app_id")
            prev = txn.get(txn_app_id)
            if prev is not None and txn_batch_id <= prev:
                raise ConcurrentCommitError(
                    f"batch {txn_batch_id} already committed for {txn_app_id}"
                )
            txn[txn_app_id] = txn_batch_id
        version = parent.version + 1
        snapshot_id = uuid.uuid4().hex
        now_ms = int(time.time() * 1000)
        # one lineage entry per snapshot — full history is the snapshot
        # chain (lineage_df), so the commit payload never grows
        lin = []
        if lineage is not None:
            entry = dict(lineage)
            entry["snapshot_id"] = snapshot_id
            entry["snapshot_version"] = version
            entry["committed_at_ms"] = now_ms
            lin.append(entry)
        # in-place widening: when this commit publishes a schema that
        # retypes existing columns (merge_schemas allow_widen /
        # widen_column), every file the PARENT tracked still physically
        # holds the narrower type — stamp the kept manifests with the
        # era map so reads cast through it (read_file_entries). Pure
        # metadata: O(#manifests), no file rewritten.
        widened: dict[str, str] = {}
        if schema is not None:
            new_by = {f.name: f.dataType for f in schema.fields}
            widened = {
                f.name: f.dataType.simpleString()
                for f in parent.schema.fields
                if f.name in new_by and new_by[f.name] != f.dataType
            }
        m_list = self._build_manifest_list(parent, files, version, widened)
        snap = Snapshot(
            version=version,
            snapshot_id=snapshot_id,
            parent_version=parent.version,
            schema=schema or parent.schema,
            properties=properties or parent.properties,
            files=files,
            txn=txn,
            lineage=lin,
            committed_at_ms=now_ms,
            manifest_list=m_list,
        )
        self._publish(snap)
        return snap

    def last_committed_batch(self, txn_app_id: str) -> int | None:
        """Commit-dedup lookup: highest batch id this app has committed."""
        return self.snapshot().txn.get(txn_app_id)

    def overwrite(self, df: DataFrame, schema: T.StructType | None = None) -> Snapshot:
        """Replace all table data (used by snapshot/full-refresh load, S1/S5).
        Projects to the table schema (missing columns null-backfilled)."""
        snap = self.snapshot()
        target = schema or snap.schema
        have = set(df.columns)
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in target.fields
        ]
        data = df.select(*cols).withColumn(BUCKET_COL, self.bucket_expr(snap))
        _, entries = self.write_data_files(data)
        return self.commit(entries, schema=schema)

    def read_updated_since(
        self, since, snapshot: Snapshot | None = None
    ) -> DataFrame:
        """Timestamp-incremental consumer read: rows whose last CDC
        update (``_cdc_updated_at``) is at/after ``since`` — the
        change-data-feed a downstream pipeline tails when it keys off
        wall-clock rather than snapshot versions (version-based row diffs
        are :func:`gear5_spark.lake.diff.table_diff`).

        File-pruned by manifest stats: bucket files untouched since
        ``since`` are never opened, so steady-state consumers read
        O(recent churn), not O(table)."""
        snap = snapshot or self.snapshot()
        keep, _skipped, buckets = self._plan_scan(
            [(CDC_UPDATED_AT, ">=", since)], snap
        )
        df = self._read_files(snap, keep, buckets=buckets)
        return df.filter(F.col(CDC_UPDATED_AT) >= F.lit(since))

    def register_view(
        self, name: str, snapshot: Snapshot | None = None
    ) -> DataFrame:
        """Expose the table (or a pinned snapshot) to Spark SQL as a
        temp view — ``spark.sql(f"SELECT ... FROM {name}")`` then runs
        with full Catalyst pushdown over the snapshot's file set."""
        df = self.read(snapshot=snapshot)
        df.createOrReplaceTempView(name)
        return df

    def lookup(self, **key_values) -> DataFrame:
        """Bucket-pruned point lookup by full key: computes the bucket
        driver-side (pure-Python XXH64 pinned to Spark's xxhash64 — no
        probe job) and opens ONLY that bucket's files — O(1/n_buckets) of
        the table regardless of size, exactly one Spark job (the pruned
        scan)."""
        from gear5_spark.lake.xxh64 import bucket_of

        snap = self.snapshot()
        cols = snap.properties.get("bucket_columns") or [
            snap.properties.get("bucket_column")
        ]
        missing = [c for c in cols if c not in key_values]
        if missing:
            raise ValueError(f"lookup requires bucket columns {missing}")
        n = snap.properties["n_buckets"]

        def _spark_str(v: Any) -> str:
            # match bucket_expr's cast(col AS STRING): Spark renders
            # booleans lowercase; Python str() would give 'True' and
            # hash into the wrong bucket
            if isinstance(v, bool):
                return "true" if v else "false"
            return str(v)

        # NULL key values: xxhash64 SKIPS null arguments (the hash is
        # over the remaining columns + seed), so the driver-side
        # computation must skip them identically
        bucket = bucket_of(
            [
                _spark_str(key_values[c])
                for c in cols
                if key_values[c] is not None
            ],
            n,
        )
        df = self.read(snapshot=snap, buckets=[bucket])
        for col, val in key_values.items():
            df = df.filter(
                F.col(col).isNull()
                if val is None
                else F.col(col) == F.lit(val)
            )
        return df

    # -------------------------------------------------------------------- DDL
    # the reference declares a DDL action enum (TRUNCATE/CREATE/DROP/ALTER,
    # /root/reference/types/actions.go:5-10) but never implements it; these
    # are the real versions, each an atomic snapshot commit.

    def add_column(self, name: str, dtype: T.DataType | str) -> Snapshot:
        """ALTER TABLE ADD COLUMN (additive only; widening-lattice rules
        apply on merge)."""
        from gear5_spark.operators.typing import merge_schemas

        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        snap = self.snapshot()
        existing = {f.name: f.dataType for f in snap.schema.fields}
        if name in existing and existing[name] != dtype:
            raise SchemaEvolutionError(
                f"column {name} exists as {existing[name].simpleString()}; "
                f"explicit type change to {dtype.simpleString()} refused "
                "(additive evolution only)"
            )
        evolved, changes = merge_schemas(
            snap.schema,
            T.StructType(
                list(snap.schema.fields) + [T.StructField(name, dtype, True)]
            ),
        )
        if not changes:
            return snap
        # basis=snap: a commit racing into this read-modify-write window
        # must REBASE (or conflict), not be silently reverted by the
        # stale file list captured above
        return self.commit(files=snap.files, schema=evolved, basis=snap)

    def widen_column(self, name: str, dtype: T.DataType | str) -> Snapshot:
        """ALTER TABLE ALTER COLUMN TYPE — widening only, along the
        lattice (``operators.typing.can_widen``; narrowing refused).

        Metadata-only at any scale: no data file is rewritten. The
        commit stamps kept manifests with the column's written physical
        type and :func:`read_file_entries` casts those eras up on read;
        every rewrite path (merge, compaction, rebucket) re-types the
        files it touches, so eras decay back to one. Reference parity:
        the LCA type walk at ``typeutils/fields.go:182-205`` — there
        applied per record batch, here once per schema change."""
        from gear5_spark.operators.typing import can_widen

        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        snap = self.snapshot()
        by = {f.name: f.dataType for f in snap.schema.fields}
        if name not in by:
            raise SchemaEvolutionError(
                f"column {name} does not exist (add_column for new "
                "columns)"
            )
        if by[name] == dtype:
            return snap
        if not can_widen(by[name], dtype):
            raise SchemaEvolutionError(
                f"cannot retype {name}: {by[name].simpleString()} -> "
                f"{dtype.simpleString()} is not a lattice widening "
                "(narrowing never)"
            )
        evolved = T.StructType(
            [
                T.StructField(name, dtype, True) if f.name == name else f
                for f in snap.schema.fields
            ]
        )
        return self.commit(files=snap.files, schema=evolved, basis=snap)

    def rebucket(self, n_buckets: int) -> Snapshot:
        """Rewrite the table into a new bucket count — the re-bucketing
        story for a table that outgrew its create-time ``n_buckets``
        (bucket count caps write parallelism and merge granularity).
        One atomic commit; O(table) data movement, so a maintenance
        operation. MoR deltas are resolved into the new base (the read
        reconstructs); old snapshots keep the old layout — time travel
        still works until vacuumed."""
        snap = self.snapshot()
        if n_buckets == snap.properties["n_buckets"]:
            return snap
        cols = snap.properties.get("bucket_columns") or [
            snap.properties.get("bucket_column")
        ]
        new_bucket = F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in cols]),
            F.lit(n_buckets),
        ).cast("int")
        data = self.read(snapshot=snap).withColumn(BUCKET_COL, new_bucket)
        _, entries = self.write_data_files(data, n_buckets=n_buckets)
        props = dict(snap.properties)
        props["n_buckets"] = n_buckets
        # basis=snap: a merge that lands during the O(table) rewrite
        # must surface as ConcurrentCommitError (its rows are NOT in the
        # rewritten file set) instead of being silently dropped
        return self.commit(files=entries, properties=props, basis=snap)

    def truncate(self) -> Snapshot:
        """TRUNCATE: new snapshot referencing no data files (old snapshots
        keep the data — time travel still works until vacuumed)."""
        return self.commit(files=[])

    def drop(self) -> None:
        """DROP TABLE: remove everything under the table dir."""
        shutil.rmtree(self.table_dir)

    # ------------------------------------------------------------ utilities
    _LINEAGE_ARCHIVE = "lineage-archive.jsonl"

    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than_ms: int | None = None,
        manifest_retention_sec: float = 3600.0,
    ) -> list[int]:
        """Drop old snapshot metadata, bounding the metadata log the way
        Iceberg's ``expireSnapshots`` does. Keeps the newest ``keep_last``
        versions (at least the current one); with ``older_than_ms`` only
        versions committed before that epoch-ms cutoff expire.

        Expired versions are no longer time-travel targets; data files
        they referenced exclusively become vacuum-eligible orphans
        (collect with :meth:`vacuum`), and per-commit manifest files no
        retained snapshot references are deleted here. Lineage/metrics
        rows of expired commits are appended to a JSONL archive first, so
        :meth:`lineage_df` keeps the full metrics history — expiration
        never loses observability, only time travel."""
        keep_last = max(1, keep_last)
        versions = self._list_versions()
        candidates = versions[:-keep_last]
        expire: list[Snapshot] = []
        for v in candidates:
            s = self.snapshot(v)
            if older_than_ms is None or s.committed_at_ms < older_than_ms:
                expire.append(s)
        if not expire:
            return []
        # archive lineage BEFORE removing metadata (idempotent: readers
        # dedupe by snapshot_version, so a crash-rerun double-append is
        # harmless)
        arch = os.path.join(self.table_dir, MANIFEST_DIR, self._LINEAGE_ARCHIVE)
        with open(arch, "a") as fh:
            for s in expire:
                for entry in s.lineage:
                    fh.write(json.dumps(entry, separators=(",", ":")) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        for s in expire:
            os.unlink(_manifest_path(self.table_dir, s.version))
        # manifests referenced by no retained snapshot are dead metadata
        live_manifests = set()
        for s in self.history():
            for m in s.manifest_list or []:
                live_manifests.add(m["path"])
        mdir = os.path.join(self.table_dir, MANIFEST_DIR)
        # mtime grace (like vacuum's retention): an in-flight commit
        # writes its m-*.json BEFORE publishing the snapshot that
        # references it — sweeping a young unreferenced manifest would
        # corrupt that imminent commit
        cutoff = time.time() - manifest_retention_sec
        for name in os.listdir(mdir):
            rel = os.path.join(MANIFEST_DIR, name)
            full = os.path.join(mdir, name)
            if (
                name.startswith("m-")
                and rel not in live_manifests
                and os.path.getmtime(full) < cutoff
            ):
                os.unlink(full)
                _MANIFEST_FILE_CACHE.pop(
                    os.path.join(self.table_dir, rel), None
                )
        return [s.version for s in expire]

    def rewrite_manifests(self) -> Snapshot:
        """Compact metadata: commit a snapshot whose manifest list is ONE
        fresh manifest holding exactly the live file entries. Dead
        entries (files dropped by deletes/rewrites but still textually
        present in shared manifest files — including their min/max
        stats, which can leak deleted key values) stop existing anywhere
        once ``expire_snapshots`` drops the old snapshots and their
        manifests. Part of the full-erasure contract
        (:mod:`gear5_spark.lake.delete`).

        Pure metadata compaction removes no data files, so a lost
        publish race always rebases: re-snapshot the (new) current state
        and retry, cleaning up the failed attempt's manifest file."""
        for _attempt in range(self.COMMIT_RETRIES + 1):
            parent = self.snapshot()
            version = parent.version + 1
            m_list: list[dict[str, Any]] = []
            rel: str | None = None
            if parent.files:
                rel = os.path.join(
                    MANIFEST_DIR,
                    f"m-{version:08d}-{uuid.uuid4().hex[:12]}.json",
                )
                # through the commit backend: fsync-before-publish (a
                # snapshot must never reference torn content) and
                # portability off POSIX, same as _build_manifest_list
                self.backend.put_if_absent(
                    os.path.join(self.table_dir, rel),
                    json.dumps(
                        {"files": parent.files}, separators=(",", ":")
                    ).encode(),
                )
                m_list = [
                    {
                        "path": rel,
                        "buckets": _buckets_of(parent.files),
                    }
                ]
            snap = Snapshot(
                version=version,
                snapshot_id=uuid.uuid4().hex,
                parent_version=parent.version,
                schema=parent.schema,
                properties=parent.properties,
                files=parent.files,
                txn=parent.txn,
                lineage=[],
                committed_at_ms=int(time.time() * 1000),
                manifest_list=m_list,
            )
            try:
                self._publish(snap)
                return snap
            except CommitRaceLost:
                if rel is not None:
                    os.unlink(os.path.join(self.table_dir, rel))
                if _attempt == self.COMMIT_RETRIES:
                    raise
        raise AssertionError("unreachable")  # pragma: no cover

    def _archived_lineage(self) -> list[dict[str, Any]]:
        arch = os.path.join(self.table_dir, MANIFEST_DIR, self._LINEAGE_ARCHIVE)
        if not os.path.exists(arch):
            return []
        rows: list[dict[str, Any]] = []
        with open(arch) as fh:
            for line in fh:
                if line.strip():
                    rows.append(json.loads(line))
        return rows

    def _lineage_entries(self) -> list[dict[str, Any]]:
        """Every commit's lineage entry, archive-inclusive, deduped by
        snapshot version."""
        rows: list[dict[str, Any]] = []
        seen: set[int] = set()
        for entry in self._archived_lineage():
            v = entry.get("snapshot_version")
            if v not in seen:
                seen.add(v)
                rows.append(entry)
        for s in self.history():
            for entry in s.lineage:
                if (
                    entry.get("snapshot_version") == s.version
                    and s.version not in seen
                ):
                    rows.append(entry)
        return rows

    def lineage_df(self) -> DataFrame:
        """Lineage/metrics rows of every commit, as a DataFrame
        (A3/§FIXTURES.4) — including commits whose snapshots were
        expired (read back from the archive, deduped by version)."""
        rows = self._lineage_entries()
        schema = T.StructType(
            [
                T.StructField("batch_id", T.LongType()),
                T.StructField("lsn_min", T.LongType()),
                T.StructField("lsn_max", T.LongType()),
                T.StructField("event_count", T.LongType()),
                T.StructField("txn_ids_hash", T.StringType()),
                T.StructField("malformed_count", T.LongType()),
                # physical dedup plan the batch ran (fused | salted;
                # "partial" on commits written before that plan was
                # removed; NULL on pre-plan-audit commits and data-less
                # quarantine-only commits)
                T.StructField("dedup_plan", T.StringType()),
                T.StructField("snapshot_id", T.StringType()),
                T.StructField("snapshot_version", T.LongType()),
                T.StructField("committed_at_ms", T.LongType()),
            ]
        )
        data = [
            tuple(r.get(f.name) for f in schema.fields) for r in rows
        ]
        return self.spark.createDataFrame(data, schema)

    def partition_lineage_df(self) -> DataFrame:
        """Per-source-partition lineage metrics table: one row per input
        file (source partition) of every committed micro-batch, with its
        offset (lsn) range, row count, and the commit's snapshot id —
        the partition-granular companion of :meth:`lineage_df`. Rows
        exist for batches applied with ``partition_lineage`` enabled
        (the applier default) from a file-backed feed.
        ``batch_truncated_files`` surfaces the count of files beyond the
        per-batch recording cap (repeated on each of the batch's rows)
        so a shortfall against ``event_count`` is never silent."""
        schema = T.StructType(
            [
                T.StructField("snapshot_version", T.LongType()),
                T.StructField("batch_id", T.LongType()),
                T.StructField("path", T.StringType()),
                T.StructField("rows", T.LongType()),
                T.StructField("lsn_min", T.LongType()),
                T.StructField("lsn_max", T.LongType()),
                T.StructField("batch_truncated_files", T.LongType()),
            ]
        )
        data = [
            (
                entry.get("snapshot_version"),
                entry.get("batch_id"),
                p.get("path"),
                p.get("rows"),
                p.get("lsn_min"),
                p.get("lsn_max"),
                entry.get("partitions_truncated", 0),
            )
            for entry in self._lineage_entries()
            for p in entry.get("partitions", [])
        ]
        return self.spark.createDataFrame(data, schema)

    def vacuum(self, retention_sec: float = 3600.0) -> list[str]:
        """Delete data directories unreachable from any snapshot (orphans).

        Only paths older than ``retention_sec`` (mtime-based, default 1h
        — the Delta/Iceberg convention) are removed: the window between
        ``write_data_files`` and ``commit`` always holds a
        not-yet-referenced directory, and a concurrent writer's imminent
        commit must not lose its files to a maintenance vacuum.

        Two granularities: whole commit directories no retained snapshot
        references, AND individual orphan files inside still-live
        directories (a bucket rewrite orphans the old bucket's file
        while its commit-siblings stay referenced — after
        ``expire_snapshots`` those per-file orphans are the last
        physical copies of deleted rows, so GDPR erasure needs them
        gone)."""
        live_dirs: set[str] = set()
        live_paths: set[str] = set()
        for s in self.history():
            for f in s.files:
                live_dirs.add(f["path"].split(os.sep)[1])  # data/<commit>/
                live_paths.add(f["path"])
        removed = []
        cutoff = time.time() - retention_sec
        data_root = os.path.join(self.table_dir, DATA_DIR)
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            if d not in live_dirs:
                if os.path.getmtime(full) < cutoff:
                    shutil.rmtree(full)
                    removed.append(d)
                continue
            for root, _dirs, names in os.walk(full):
                for name in names:
                    fp = os.path.join(root, name)
                    rel = os.path.relpath(fp, self.table_dir)
                    if (
                        name.endswith(".parquet")
                        and rel not in live_paths
                        and os.path.getmtime(fp) < cutoff
                    ):
                        os.unlink(fp)
                        removed.append(rel)
        return removed
