"""Every module of the package imports without a Spark session, so an
import of a deleted or renamed module fails here even when no other test
imports the module that holds it."""

from __future__ import annotations

import importlib
import pkgutil

import projectone_spark


def test_every_module_imports():
    names = [m.name for m in pkgutil.walk_packages(
        projectone_spark.__path__, prefix="projectone_spark.")]
    assert len(names) > 50
    for name in names:
        importlib.import_module(name)
