"""One last-write-wins rule: under gear5_spark/lake, the LSN ordering
(``try_cast`` of ``_cdc_lsn`` to order or guard) lives in
``merge.lww_order`` only, and no module calls ``max_by`` — merge-on-read
picks each key's winning delta with the dedup operator. Copy-on-write's
guard and merge-on-read's dedup both call ``lww_order``, so the two sinks
cannot drift apart. ``diff.py``'s null-safe change test compares LSNs
for equality, not order, and is the one other ``try_cast``. Static
check, no Spark."""

from __future__ import annotations

import ast
import os

LAKE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "gear5_spark",
    "lake",
)
# (module, function) allowed to try_cast an LSN
ORDERING = {("merge.py", "lww_order")}
EQUALITY = {("diff.py", "table_diff")}


def _calls(tree: ast.AST, name: str) -> list[tuple[str, ast.Call]]:
    """``(enclosing function, call)`` for each call of ``name``."""
    out = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if isinstance(child, ast.Call):
                f = child.func
                called = (
                    f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                )
                if called == name:
                    out.append((fn, child))
            visit(child, inner)

    visit(tree, "<module>")
    return out


def _modules():
    for name in sorted(os.listdir(LAKE)):
        if name.endswith(".py"):
            with open(os.path.join(LAKE, name)) as fh:
                yield name, ast.parse(fh.read(), filename=name)


def _eq_null_safe_args(tree: ast.AST) -> set[int]:
    """ids of every node inside an ``eqNullSafe`` comparison (receiver
    and argument)."""
    inside: set[int] = set()
    for _fn, call in _calls(tree, "eqNullSafe"):
        inside.update(id(n) for n in ast.walk(call))
    return inside


def test_no_max_by_in_the_lake():
    found = [
        f"{m}:{call.lineno}" for m, tree in _modules() for _fn, call in _calls(tree, "max_by")
    ]
    assert found == [], f"max_by outside the dedup operator: {found}"


def test_lsn_ordering_lives_in_one_function():
    ordering, stray = set(), []
    for module, tree in _modules():
        equality = _eq_null_safe_args(tree)
        for fn, call in _calls(tree, "try_cast"):
            if (module, fn) in ORDERING:
                ordering.add((module, fn))
            elif (module, fn) in EQUALITY and id(call) in equality:
                continue
            else:
                stray.append(f"{module}:{call.lineno} in {fn}")
    assert stray == [], f"LSN ordering outside lww_order: {stray}"
    assert ordering == ORDERING


def test_both_sinks_call_the_rule():
    callers = {
        (module, fn) for module, tree in _modules() for fn, _c in _calls(tree, "lww_order")
    }
    assert {("merge.py", "_guarded_merge"), ("mor.py", "reconstruct")} <= callers


def test_guard_catches_a_second_ordering():
    src = (
        "def reconstruct(df):\n"
        "    o = F.col('_cdc_lsn').try_cast('long')\n"
        "    return df.groupBy('k').agg(F.max_by(F.col('v'), o))\n"
    )
    tree = ast.parse(src)
    assert [fn for fn, _c in _calls(tree, "try_cast")] == ["reconstruct"]
    assert [fn for fn, _c in _calls(tree, "max_by")] == ["reconstruct"]
    # an eqNullSafe LSN test is equality, any other use is not
    eq = ast.parse("x = a.try_cast('long').eqNullSafe(b.try_cast('long'))")
    inside = _eq_null_safe_args(eq)
    assert all(id(c) in inside for _fn, c in _calls(eq, "try_cast"))
    ordered = ast.parse("x = a.try_cast('long') >= b.try_cast('long')")
    assert not _eq_null_safe_args(ordered)
