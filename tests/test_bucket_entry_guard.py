"""Manifest entries hold one bucket or an inclusive bucket range, so every
module under gear5_spark/lake reads an entry's buckets through
``table.entry_buckets`` — a selection site that indexed ``"bucket"``
directly would silently treat a range file as its first bucket. Static
check, no Spark."""

from __future__ import annotations

import ast
import os

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gear5_spark", "lake"
)
HELPER = "entry_buckets"
KEYS = ("bucket", "bucket_range")


def _bucket_reads(tree: ast.AST) -> list[int]:
    """Lines that read ``x["bucket"]`` / ``x.get("bucket")`` (or the
    range key) outside the helper. Writing the key (building an entry)
    is fine."""
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == HELPER:
            allowed.update(id(n) for n in ast.walk(node))
    lines = []
    for node in ast.walk(tree):
        if id(node) in allowed:
            continue
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.slice, ast.Constant)
            and node.slice.value in KEYS
        ):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "get"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value in KEYS
        ):
            lines.append(node.lineno)
    return lines


def test_guard_catches_bucket_reads():
    for src in (
        "x = [f for f in files if f['bucket'] in want]",
        "b = f.get('bucket')",
        "lo, hi = f['bucket_range']",
    ):
        assert _bucket_reads(ast.parse(src)), src
    ok = (
        "def entry_buckets(f):\n    return f['bucket']\n"
        "entry = {}\nentry['bucket'] = 3\nm['buckets']\n"
    )
    assert _bucket_reads(ast.parse(ok)) == []


def test_lake_reads_entry_buckets_only_through_the_helper():
    found = []
    for name in sorted(os.listdir(ROOT)):
        if not name.endswith(".py"):
            continue
        path = os.path.join(ROOT, name)
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        found += [f"lake/{name}:{n}" for n in _bucket_reads(tree)]
    assert found == [], f"manifest bucket read outside {HELPER}: {found}"
