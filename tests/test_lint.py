"""Static checks over the package and the tests, with the standard
library's ast (no linter is installed): a module-level function or
class defined twice silently rebinds its name, and an unused
module-level import is dead weight a reader has to rule out."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SOURCES = sorted([*(REPO / "ai_iceberg_demo_spark").rglob("*.py"), *(REPO / "tests").rglob("*.py")])


def _modules():
    for path in SOURCES:
        yield path.relative_to(REPO), ast.parse(path.read_text())


def test_no_module_level_name_defined_twice():
    found = []
    for rel, tree in _modules():
        seen = set()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    found.append(f"{rel}:{node.lineno} {node.name}")
                seen.add(node.name)
    assert found == []


def test_no_unused_module_level_import():
    """``__init__.py`` files are exempt: their imports are re-exports."""
    found = []
    for rel, tree in _modules():
        if rel.name == "__init__.py":
            continue
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    name = alias.asname or alias.name.split(".")[0]
                    if name not in used:
                        found.append(f"{rel}:{node.lineno} {name}")
    assert found == []
