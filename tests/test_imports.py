"""Every module of the package imports without a Spark session, so an
import of a deleted or renamed module fails here even when no other test
imports the module that holds it. The source scans below keep the table
store's manifest files behind its one lookup, ``TableStore.snapshot``, and
every versioned file behind its one publish, ``store.versioned.publish``."""

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


#: the functions under ``store/`` that write a file's bytes themselves: the
#: put-if-absent publish of every ``_manifest_v{n}`` and state ``_v{n}``,
#: and the copy fallback of a data-file hard link
FILE_WRITERS = {
    ("store/versioned.py", "publish"),
    ("store/__init__.py", "_link_file"),
}


def _calls(src: str):
    """``(function, call)`` of every call in ``src``, by enclosing
    function name (None at module level)."""
    out = []

    def visit(node, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                out.append((fn, child))
            visit(child, child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)

    visit(ast.parse(src), None)
    return out


def _writes_a_file(call: ast.Call) -> bool:
    f = call.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
    if name == "open" and isinstance(f, ast.Name):
        mode = (call.args[1] if len(call.args) > 1 else next(
            (k.value for k in call.keywords if k.arg == "mode"), None))
        return (isinstance(mode, ast.Constant)
                and bool(set(str(mode.value)) & set("wax+")))
    owner = getattr(f, "value", None)
    return (isinstance(owner, ast.Name)
            and (owner.id, name) in {("os", "open"), ("shutil", "copy"),
                                     ("shutil", "copy2"),
                                     ("shutil", "copyfile")})


def test_nothing_imports_fcntl():
    """Commits are ordered by the put-if-absent link alone: no lock."""
    for rel, src in _modules().items():
        for node in ast.walk(ast.parse(src)):
            names = ([a.name for a in node.names]
                     if isinstance(node, ast.Import) else
                     [node.module] if isinstance(node, ast.ImportFrom) else [])
            assert "fcntl" not in names, rel


def test_only_the_publish_writes_versioned_files():
    """Versioned files live under ``store/`` (manifests are named only
    in ``store/__init__.py``, scanned above; state keys in ``state.py``),
    and there only ``publish`` opens a file for writing, so no version
    file is written but by its one put-if-absent link."""
    writers = {(rel, fn) for rel, src in _modules().items()
               if rel.startswith("store/")
               for fn, call in _calls(src) if _writes_a_file(call)}
    assert writers == FILE_WRITERS
