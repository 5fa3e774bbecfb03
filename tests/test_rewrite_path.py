"""One bucket-rewrite path: under gear5_spark, ``whole_file_scope`` (the
widening of a bucket scope to whole files and slots) is called only in
``LakeTable._rewrite``, and in ``lake/{merge,mor,delete}.py`` only
``merge_delta`` — an append, not a rewrite — writes data files or
commits itself. Copy-on-write MERGE, compaction and ``delete_where``
therefore widen, read, write, check and commit their scope in one place.
Static check, no Spark."""

from __future__ import annotations

import ast
import os

from tests.test_commit_path import PKG, _called, _scopes

CALLERS = ("merge.py", "mor.py", "delete.py")


def _sites(tree: ast.AST, names: set[str]) -> dict[str, set[str]]:
    """``{called name: enclosing scopes}`` for each name in ``names``."""
    sites: dict[str, set[str]] = {n: set() for n in names}
    for scope, node in _scopes(tree):
        name = _called(node)
        if name in sites:
            sites[name].add(scope)
    return sites


def _parse(path: str) -> ast.AST:
    with open(path) as fh:
        return ast.parse(fh.read(), filename=path)


def test_scope_is_widened_only_by_rewrite():
    found: set[str] = set()
    for root, _dirs, names in os.walk(PKG):
        for name in sorted(names):
            if name.endswith(".py"):
                tree = _parse(os.path.join(root, name))
                found |= _sites(tree, {"whole_file_scope"})["whole_file_scope"]
    assert found == {"LakeTable._rewrite"}


def test_rewrite_callers_neither_write_nor_commit():
    found = {"commit": set(), "write_data_files": set()}
    for name in CALLERS:
        tree = _parse(os.path.join(PKG, "lake", name))
        for kind, scopes in _sites(tree, set(found)).items():
            found[kind] |= scopes
    assert found == {"commit": {"merge_delta"}, "write_data_files": {"merge_delta"}}


def test_guard_catches_a_second_rewrite():
    src = (
        "def compact(table):\n"
        "    scope = whole_file_scope(files, chosen)\n"
        "    def write():\n"
        "        table.write_data_files(rows)\n"
        "    return table.commit(files)\n"
    )
    sites = _sites(
        ast.parse(src), {"whole_file_scope", "commit", "write_data_files"}
    )
    assert sites == {
        "whole_file_scope": {"compact"},
        "commit": {"compact"},
        "write_data_files": {"compact"},
    }
