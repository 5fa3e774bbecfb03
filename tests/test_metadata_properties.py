"""Pure-metadata property tests (no Spark): stats pruning must never
skip a file that could match, and OCC rebase must reproduce exactly the
winner-plus-delta file set or refuse."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given
from hypothesis import strategies as st

from gear5_spark.lake.table import (
    ConcurrentCommitError,
    LakeTable,
    Snapshot,
    _file_may_match,
    _json_stat,
)

# ---------------------------------------------------------- stats pruning

OPS = ["=", "<", "<=", ">", ">="]


def _matches(op: str, v: int, val: int) -> bool:
    return {
        "=": v == val,
        "<": v < val,
        "<=": v <= val,
        ">": v > val,
        ">=": v >= val,
    }[op]


@given(
    rows=st.lists(st.integers(-50, 50), min_size=1, max_size=20),
    op=st.sampled_from(OPS),
    val=st.integers(-60, 60),
)
def test_pruning_is_conservative(rows, op, val):
    """A file whose rows contain ANY match must survive pruning."""
    entry = {"stats": {"x": [min(rows), max(rows)]}}
    any_match = any(_matches(op, v, val) for v in rows)
    may = _file_may_match(entry, "x", op, val)
    if any_match:
        assert may, (rows, op, val)
    # (the converse — may_match implies a possible match for SOME row set
    # within [min,max] — holds by construction of the bounds)


@given(
    lo=st.integers(-50, 50),
    hi=st.integers(-50, 50),
    op=st.sampled_from(OPS),
    val=st.integers(-60, 60),
)
def test_pruned_files_cannot_contain_matches(lo, hi, op, val):
    """If pruning drops the file, NO value inside [lo, hi] matches."""
    if lo > hi:
        lo, hi = hi, lo
    entry = {"stats": {"x": [lo, hi]}}
    if not _file_may_match(entry, "x", op, val):
        assert not any(_matches(op, v, val) for v in range(lo, hi + 1))


def test_json_stat_timestamp_roundtrip_consistency():
    naive = dt.datetime(2024, 6, 1, 12, 30, 45, 123456)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    assert _json_stat(naive) == _json_stat(aware)
    assert _json_stat(dt.date(2024, 6, 1)) == _json_stat(
        dt.datetime(2024, 6, 1)
    )
    assert _json_stat(b"abc") == "abc"
    assert _json_stat(7) == 7


# -------------------------------------------------------------- OCC rebase


def _snap(paths: set[str]) -> Snapshot:
    from pyspark.sql import types as T

    return Snapshot(
        version=0,
        snapshot_id="x",
        parent_version=None,
        schema=T.StructType([]),
        properties={"p": 1},
        files=[{"path": p, "bucket": 0} for p in sorted(paths)],
        txn={},
        manifest_list=[],
    )


@given(
    base=st.sets(st.integers(0, 15), max_size=8),
    my_removed=st.sets(st.integers(0, 15), max_size=4),
    my_added=st.sets(st.integers(100, 110), max_size=4),
    their_removed=st.sets(st.integers(0, 15), max_size=4),
    their_added=st.sets(st.integers(200, 210), max_size=4),
)
def test_rebase_reproduces_delta_or_refuses(
    base, my_removed, my_added, their_removed, their_added
):
    my_removed &= base  # can only remove what existed
    their_removed &= base
    b = {f"f{i}" for i in base}
    mine = (b - {f"f{i}" for i in my_removed}) | {f"a{i}" for i in my_added}
    winner = (b - {f"f{i}" for i in their_removed}) | {
        f"t{i}" for i in their_added
    }
    t = LakeTable.__new__(LakeTable)  # no FS access in _rebase_files
    conflict = bool(my_removed & their_removed)
    if conflict:
        with pytest.raises(ConcurrentCommitError):
            t._rebase_files(_snap(b), _snap(mine).files, _snap(winner))
    else:
        out = t._rebase_files(_snap(b), _snap(mine).files, _snap(winner))
        got = {f["path"] for f in out}
        want = (winner - {f"f{i}" for i in my_removed}) | {
            f"a{i}" for i in my_added
        }
        assert got == want
