"""The CDC path takes its settings from arguments, never from the
environment: no module under gear5_spark/{pipeline,lake,operators,sources}
reads os.environ or os.getenv. Static check, no Spark."""

from __future__ import annotations

import ast
import os

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gear5_spark"
)
PACKAGES = ("pipeline", "lake", "operators", "sources")


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv", "environb")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv", "environb") for a in node.names):
                lines.append(node.lineno)
    return lines


def test_guard_catches_env_reads():
    for src in (
        "import os\nx = os.environ.get('A')",
        "import os\nx = os.getenv('A')",
        "from os import environ",
    ):
        assert _env_reads(ast.parse(src)), src


def test_cdc_path_reads_no_env():
    found = []
    for pkg in PACKAGES:
        for dirpath, _, files in os.walk(os.path.join(ROOT, pkg)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), filename=path)
                found += [
                    f"{os.path.relpath(path, ROOT)}:{n}" for n in _env_reads(tree)
                ]
    assert found == [], f"environment reads on the CDC path: {found}"
