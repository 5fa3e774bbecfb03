"""The lake table is the one place that places rows and the one place
that hashes them into buckets. Under gear5_spark/lake and
gear5_spark/pipeline, ``.repartition(`` and ``.repartitionById(`` are
called only by ``LakeTable.place`` in lake/table.py; under
gear5_spark/lake, ``xxhash64`` is called only by
``LakeTable.bucket_expr``. A second placement site would let a write
path drift from the layout the merge, the write and the footer check
agree on; a second bucket hash would let a reader (``lookup``) prune to
a bucket the writer did not use. Static check, no Spark."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gear5_spark"
)
DIRS = ("lake", "pipeline")
CALLS = ("repartition", "repartitionById")
# (module, function) allowed to call them
PLACEMENT = {("lake/table.py", "place")}
HASH_CALLS = ("xxhash64",)
BUCKET_HASH = {("lake/table.py", "bucket_expr")}


def _stray_calls(
    tree: ast.AST, module: str, calls=CALLS, sites=PLACEMENT
) -> list[int]:
    """Lines that call one of ``calls`` (``x.name(...)`` or
    ``name(...)``) outside the functions ``sites`` allows."""
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and (module, node.name) in sites:
            allowed.update(id(n) for n in ast.walk(node))
    lines = []
    for node in ast.walk(tree):
        if id(node) in allowed or not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in calls:
            lines.append(node.lineno)
    return lines


def _found(dirs, calls, sites) -> list[str]:
    found = []
    for d in dirs:
        for name in sorted(os.listdir(os.path.join(PKG, d))):
            if not name.endswith(".py"):
                continue
            module = f"{d}/{name}"
            with open(os.path.join(PKG, module)) as fh:
                tree = ast.parse(fh.read(), filename=module)
            found += [
                f"{module}:{n}" for n in _stray_calls(tree, module, calls, sites)
            ]
    return found


def test_guard_catches_stray_placement():
    for src in (
        "df = df.repartition(8, '_pslot')",
        "df = df.repartitionById(8, '_pslot')",
        "def place(df):\n    return df.repartition(4)\n",
    ):
        assert _stray_calls(ast.parse(src), "lake/merge.py"), src
    ok = (
        "def place(self, df):\n"
        "    return df.repartitionById(8, '_pslot')\n"
        "df.coalesce(1)\n"
    )
    assert _stray_calls(ast.parse(ok), "lake/table.py") == []
    for src in (
        "sub = F.xxhash64(F.col('k'), F.lit(2))",
        "def place(self, df):\n    return xxhash64('k')\n",
    ):
        tree = ast.parse(src)
        assert _stray_calls(tree, "lake/table.py", HASH_CALLS, BUCKET_HASH), src
    ok = "def bucket_expr(self):\n    return F.pmod(F.xxhash64('k'), F.lit(4))\n"
    assert _stray_calls(ast.parse(ok), "lake/table.py", HASH_CALLS, BUCKET_HASH) == []


def test_only_the_table_places_rows():
    found = _found(DIRS, CALLS, PLACEMENT)
    assert found == [], f"placement outside LakeTable.place: {found}"


def test_only_bucket_expr_hashes_buckets():
    found = _found(("lake",), HASH_CALLS, BUCKET_HASH)
    assert found == [], f"bucket hash outside LakeTable.bucket_expr: {found}"
