"""Source-level rules for the library package."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "europa_spark"


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
            lines.append(node.lineno)
        elif isinstance(node, ast.Name) and node.id in ("environ", "getenv"):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os" and any(
            a.name in ("environ", "getenv") for a in node.names
        ):
            lines.append(node.lineno)
    return lines


def test_no_env_reads_outside_session():
    """Environment variables size the session (session.py) and nothing else:
    no env-var experiment switches in library code."""
    found = {
        f.name: lines
        for f in sorted(PKG.glob("*.py"))
        if f.name != "session.py"
        and (lines := _env_reads(ast.parse(f.read_text(), str(f))))
    }
    assert not found, found
