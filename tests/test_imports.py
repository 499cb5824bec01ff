"""Every module of the package imports without a Spark session, so an
import of a deleted or renamed module fails here even when no other test
imports the module that holds it. The source scans below keep the table
store's manifest files behind its one lookup, ``TableStore.snapshot``."""

from __future__ import annotations

import ast
import importlib
import pkgutil
import re
from pathlib import Path

import projectone_spark

PACKAGE = Path(projectone_spark.__file__).parent

#: a manifest file name: a quoted or path-joined ``_manifest…``, or
#: ``_manifest.json`` / ``_manifest_v…`` anywhere
MANIFEST_NAME = re.compile(r"[\"'/]_manifest|_manifest(?:\.json|_v)")

#: the functions that may list every version with ``TableStore.history``:
#: vacuum, and the op listings of two streaming queries
HISTORY_CALLERS = {
    ("store/maintenance.py", "vacuum"),
    ("queries/streaming2.py", "st17_stream_index_maintenance"),
    ("queries/streaming2.py", "st18_stream_drop_maintenance"),
}


def _modules() -> dict[str, str]:
    return {p.relative_to(PACKAGE).as_posix(): p.read_text()
            for p in sorted(PACKAGE.rglob("*.py"))}


def test_every_module_imports():
    names = [m.name for m in pkgutil.walk_packages(
        projectone_spark.__path__, prefix="projectone_spark.")]
    assert len(names) > 50
    for name in names:
        importlib.import_module(name)


def test_only_the_store_names_manifest_files():
    named = sorted(rel for rel, src in _modules().items()
                   if MANIFEST_NAME.search(src))
    assert named == ["store/__init__.py"]


def test_history_is_called_only_where_versions_are_listed():
    callers = set()

    def visit(node, rel: str, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "history"):
                callers.add((rel, fn))
            visit(child, rel, child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)

    for rel, src in _modules().items():
        visit(ast.parse(src), rel, None)
    assert callers == HISTORY_CALLERS
