"""The program does not import DuckDB: it is a test-only dependency (the
oracle the registry queries are checked against, ``pyproject.toml``'s
``test`` extra). Every module under ``quiver_spark/`` is parsed with
``ast``, so the check needs no Spark and no DuckDB."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "quiver_spark"


def _duckdb_imports(path: Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module or ""]
        else:
            continue
        if any(n == "duckdb" or n.startswith("duckdb.") for n in names):
            lines.append(node.lineno)
    return lines


def test_program_does_not_import_duckdb():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    found = {
        str(p.relative_to(PACKAGE.parent)): lines
        for p in modules
        if (lines := _duckdb_imports(p))
    }
    assert found == {}, f"modules importing duckdb (file: lines): {found}"
