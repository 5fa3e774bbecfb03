"""One commit path: under gear5_spark, a ``Snapshot`` is built only when
one is read (``Snapshot.from_json``), when a table is created
(``LakeTable.create``) and when a commit attempt is made
(``LakeTable._commit_once``); only the last two publish one
(``_publish``), and ``_lake/m-*`` manifest files are named and written
only in ``LakeTable._build_manifest_list``. Every later snapshot —
data commits, DDL, compaction, ``rewrite_manifests`` — therefore goes
through ``_commit``'s rebase-and-retry loop, so a crash-safety or
concurrency fix has one place to land. Static check, no Spark."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gear5_spark"
)

BUILDERS = {
    "Snapshot.from_json",
    "LakeTable.create",
    "LakeTable._commit_once",
}
PUBLISHERS = {"LakeTable.create", "LakeTable._commit_once"}
MANIFEST_WRITER = "LakeTable._build_manifest_list"


def _scopes(tree: ast.AST):
    """``(qualified enclosing scope, node)`` for every node, the scope
    being ``Class.method`` or ``function`` (``<module>`` at top level)."""
    out = []

    def visit(node: ast.AST, cls: str | None, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            c, f = cls, fn
            if isinstance(child, ast.ClassDef):
                c = child.name
            elif (
                isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                and fn == "<module>"  # a nested function keeps its outer scope
            ):
                f = f"{cls}.{child.name}" if cls else child.name
            out.append((f, child))
            visit(child, c, f)

    visit(tree, None, "<module>")
    return out


def _called(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _manifest_name(node: ast.AST) -> bool:
    """An f-string that builds an ``m-*`` manifest file name."""
    if not isinstance(node, ast.JoinedStr) or not node.values:
        return False
    head = node.values[0]
    return isinstance(head, ast.Constant) and str(head.value).startswith("m-")


def _sites(tree: ast.AST) -> dict[str, set[str]]:
    sites: dict[str, set[str]] = {
        "Snapshot": set(), "_publish": set(), "put_if_absent": set(), "m-": set(),
    }
    for scope, node in _scopes(tree):
        name = _called(node)
        if name in sites:
            sites[name].add(scope)
        if _manifest_name(node):
            sites["m-"].add(scope)
    return sites


def _package_sites() -> dict[str, set[str]]:
    """Sites across the package, except the commit backend itself
    (``lake/backend.py`` implements ``put_if_absent``)."""
    total: dict[str, set[str]] = {}
    for root, _dirs, names in os.walk(PKG):
        for name in sorted(names):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(
                os.path.join("lake", "backend.py")
            ):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for kind, scopes in _sites(tree).items():
                total.setdefault(kind, set()).update(scopes)
    return total


def test_snapshots_are_built_in_three_places():
    assert _package_sites()["Snapshot"] == BUILDERS


def test_snapshots_are_published_by_create_and_commit_once():
    assert _package_sites()["_publish"] == PUBLISHERS


def test_manifests_are_written_by_one_function():
    sites = _package_sites()
    assert sites["m-"] == {MANIFEST_WRITER}
    # the backend's create-if-absent: the snapshot CAS and manifest files
    assert sites["put_if_absent"] == {"LakeTable._publish", MANIFEST_WRITER}


def test_guard_catches_a_second_commit_writer():
    src = (
        "class LakeTable:\n"
        "    def rewrite_manifests(self):\n"
        "        rel = f'm-{version:08d}.json'\n"
        "        self.backend.put_if_absent(rel, b'')\n"
        "        def attempt():\n"
        "            self._publish(Snapshot(version=1))\n"
        "        attempt()\n"
    )
    sites = _sites(ast.parse(src))
    where = {"LakeTable.rewrite_manifests"}
    assert sites == {
        "Snapshot": where, "_publish": where, "put_if_absent": where, "m-": where,
    }
