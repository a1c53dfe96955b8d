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


# Each driver-side pull allowed in library code, with the bound that keeps it
# independent of corpus size.
DRIVER_PULL_ALLOWED = {
    "checkpoint.CheckpointStore.save": "one row per Spark partition",
    "ann.kmeans_centroids": "sample_size rows",
    "ann.ann_ivf": "n_cells x dim centroid broadcast",
}


def _driver_pulls(tree: ast.AST, module: str) -> list[tuple[str, int]]:
    """(enclosing def, line) of each .collect(), .toPandas() and
    sparkContext.broadcast(...) call."""
    found = []

    def visit(node: ast.AST, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(child, f"{scope}.{child.name}")
                continue
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                f = child.func
                if f.attr in ("collect", "toPandas") or (
                    f.attr == "broadcast"
                    and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "sparkContext"
                ):
                    found.append((scope, child.lineno))
            visit(child, scope)

    visit(tree, module)
    return found


def test_no_unbounded_driver_pulls():
    """Library code never collects a DataFrame to the driver or broadcasts
    driver data, except the allowlisted uses whose size is bounded
    independently of the corpus."""
    found = [
        (f"{f.name}:{line}", scope)
        for f in sorted(PKG.glob("*.py"))
        for scope, line in _driver_pulls(ast.parse(f.read_text(), str(f)), f.stem)
        if scope not in DRIVER_PULL_ALLOWED
    ]
    assert not found, found


def _local_checkpoint_calls(tree: ast.AST) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]


def test_local_checkpoints_only_in_scope():
    """Every checkpoint the library makes goes through scope.Scope, which
    tracks its blocks and frees them on release: a bare .localCheckpoint()
    elsewhere leaves its blocks until Spark's ContextCleaner runs."""
    found = {
        f.name: lines
        for f in sorted(PKG.glob("*.py"))
        if f.name != "scope.py"
        and (lines := _local_checkpoint_calls(ast.parse(f.read_text(), str(f))))
    }
    assert not found, found
