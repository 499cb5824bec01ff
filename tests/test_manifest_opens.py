"""How many manifests a version lookup opens. A table keeps one
``_manifest_v{n}.json`` per commit, so any reader that finds a version by
listing them all gets slower with every commit. Each pinned read opens
O(1) manifests, the change feed O(range), and one stream trigger O(new
versions), checked here on tables with 30 committed versions."""

from __future__ import annotations

import builtins
import os
from collections import Counter

import pytest

from projectone_spark.store import TableStore, read_changes
from projectone_spark.store.indexes import open_index, save_index
from projectone_spark.store.maintenance import restore
from projectone_spark.store.models import load_model, save_model

VERSIONS = 30


@pytest.fixture()
def opens(monkeypatch):
    """Counts the opens of ``_manifest*.json`` files for reading, by
    table (a commit's publish writes one; that is not a lookup)."""
    seen: Counter = Counter()
    real = builtins.open

    def counting(path, mode="r", *args, **kwargs):
        p = os.fspath(path) if isinstance(path, (str, os.PathLike)) else ""
        fn = os.path.basename(p)
        if (fn.startswith("_manifest") and fn.endswith(".json")
                and "r" in mode):
            seen[os.path.basename(os.path.dirname(p))] += 1
        return real(path, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting)
    return seen


def _versions(store: TableStore, name: str) -> None:
    """Bring ``name`` to VERSIONS commits with metadata-only restores."""
    while store.version(name) < VERSIONS - 1:
        restore(store, name, 0)


@pytest.fixture()
def store(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    store.overwrite(spark, spark.createDataFrame([(1, 10)], "id long, v long"),
                    "t")
    _versions(store, "t")
    return store


def test_pinned_reads_open_one_manifest_per_table(spark, store, opens):
    store.read_version(spark, "t", 5)
    assert sum(opens.values()) <= 2, opens
    opens.clear()
    restore(store, "t", 7)
    assert sum(opens.values()) <= 2, opens


def test_pinned_model_and_index_open_two_manifests_per_table(
        spark, tmp_path, opens):
    store = TableStore(str(tmp_path / "store"))
    save_model(store, spark, "m", "token_weights",
               spark.createDataFrame([("cat", 7)], "term string, "
                                     "weight_micro bigint"))
    _versions(store, "m")
    save_index(store, spark, "idx", "ivf_sq8",
               spark.createDataFrame([(1, 0, 7)],
                                     "vec_id long, cell int, w00 int"),
               parts={"centroids": spark.createDataFrame(
                          [(0, [0.0, 0.0, 0.0, 0.0])],
                          "cell int, centroid array<double>"),
                      "bounds": spark.createDataFrame(
                          [([0.0] * 4, [1.0] * 4)],
                          "__mn array<double>, __mx array<double>")},
               params={"dims": 4, "n_cells": 1})
    _versions(store, "idx")
    opens.clear()
    load_model(store, spark, "m", version=5)
    assert opens and max(opens.values()) <= 2, opens
    opens.clear()
    opened = open_index(store, spark, "idx", version=5)
    assert opened.version == 5
    assert set(opens) == {"idx", "idx__centroids", "idx__bounds"}, opens
    assert max(opens.values()) <= 2, opens


def test_read_changes_opens_the_range(spark, store, opens):
    read_changes(store, spark, "t", 10, 14)
    assert sum(opens.values()) <= 14 - 10 + 2, opens


def test_stream_trigger_opens_the_new_versions(spark, store, opens):
    from projectone_spark.sources.store_stream import StoreChangesStreamReader

    reader = StoreChangesStreamReader({"root": store.root, "table": "t",
                                       "skipChangeCommits": "true"})
    start = reader.latestOffset()
    for i in range(2):
        store.append(spark, spark.createDataFrame([(2 + i, 20)],
                                                  "id long, v long"), "t")
    opens.clear()
    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    assert end["version"] == start["version"] + 2
    assert {p.version for p in parts} == {start["version"] + 1,
                                          end["version"]}
    assert sum(opens.values()) <= 2 + 2, opens
