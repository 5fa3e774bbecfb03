"""The lake table is the one place that places rows: under
gear5_spark/lake and gear5_spark/pipeline, ``.repartition(`` and
``.repartitionById(`` are called only by ``LakeTable.place`` in
lake/table.py. A second placement site would let a write path drift
from the layout the merge, the write and the footer check agree on.
Static check, no Spark."""

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


def _stray_calls(tree: ast.AST, module: str) -> list[int]:
    """Lines that call ``x.repartition(...)`` or ``x.repartitionById(...)``
    outside the placement code."""
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.FunctionDef)
            and (module, node.name) in PLACEMENT
        ):
            allowed.update(id(n) for n in ast.walk(node))
    lines = []
    for node in ast.walk(tree):
        if id(node) in allowed or not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in CALLS:
            lines.append(node.lineno)
    return lines


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


def test_only_the_table_places_rows():
    found = []
    for d in DIRS:
        for name in sorted(os.listdir(os.path.join(PKG, d))):
            if not name.endswith(".py"):
                continue
            module = f"{d}/{name}"
            with open(os.path.join(PKG, module)) as fh:
                tree = ast.parse(fh.read(), filename=module)
            found += [f"{module}:{n}" for n in _stray_calls(tree, module)]
    assert found == [], f"placement outside LakeTable.place: {found}"
