"""Immutable versions: every table manifest and state key is published by
one put-if-absent link (``store.versioned``) and never rewritten. Writers in
separate processes race on one version and exactly one wins; a writer
killed or failing at any step of the publish leaves the table at v or
v + 1, readable, listable and vacuumable, with the next commit going
through at once."""

from __future__ import annotations

import builtins
import json
import os
import signal
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

from projectone_spark.store import ConcurrentWriteError, TableStore
from projectone_spark.store.maintenance import restore, vacuum

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(script: str, *args: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", script, *args], cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env={**os.environ, "PYTHONPATH": REPO})


#: One racer process. Each contested round it reads the table, waits
#: until every racer has read it, and commits a one-file append pinned to
#: the version it read; then it lands ``appends`` more appends, retrying
#: each on ConcurrentWriteError as ``TableStore.append`` does. It prints
#: one JSON line per attempt.
_RACER = """
import json, os, sys, time
from projectone_spark.store import ConcurrentWriteError, TableStore

root, me, racers, rounds, appends = sys.argv[1], sys.argv[2], *map(int, sys.argv[3:])
store = TableStore(root)


def attempt(tag):
    m = store.manifest("t")
    entry = {"path": os.path.join(m["dirs"][0], tag + ".parquet"),
             "rows": 1, "bytes": 0, "min": {}, "max": {}}
    return m, lambda: store._commit(
        "t", m["dirs"], [], "append", files=[*m["files"], entry],
        expected_base=m["version"])


def report(**kw):
    print(json.dumps(kw), flush=True)


for r in range(rounds):
    m, commit = attempt(f"{me}-round{r}")
    open(os.path.join(root, f"ready-{r}-{me}"), "w").close()
    while len([f for f in os.listdir(root) if f.startswith(f"ready-{r}-")]) < racers:
        time.sleep(0.001)
    try:
        v = commit()
        st = os.stat(os.path.join(root, "t", f"_manifest_v{v}.json"))
        report(round=r, base=m["version"], won=v, ino=st.st_ino,
               mtime=st.st_mtime_ns, tag=f"{me}-round{r}")
    except ConcurrentWriteError:
        report(round=r, base=m["version"], lost=True)
for i in range(appends):
    while True:
        m, commit = attempt(f"{me}-append{i}")
        try:
            v = commit()
        except ConcurrentWriteError:
            continue
        st = os.stat(os.path.join(root, "t", f"_manifest_v{v}.json"))
        report(won=v, ino=st.st_ino, mtime=st.st_mtime_ns, tag=f"{me}-append{i}")
        break
"""


def test_processes_racing_on_one_table(tmp_path):
    """Four processes commit to one table. In each contested round all of
    them pin the same version: exactly one wins it and the others raise
    ConcurrentWriteError. Then every retried append lands: the versions
    are contiguous, the last one lists every winner's file, and no
    published version file was rewritten (inode and mtime unchanged)."""
    racers, rounds, appends = 4, 5, 5
    root = str(tmp_path / "store")
    store = TableStore(root)
    os.makedirs(os.path.join(root, "t", "v0-data"))
    store._commit("t", [os.path.join(root, "t", "v0-data")], [], "create")
    procs = [_python(_RACER, root, str(i), str(racers), str(rounds),
                     str(appends)) for i in range(racers)]
    lines = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err
        lines += [json.loads(ln) for ln in out.splitlines()]

    for r in range(rounds):
        attempts = [ln for ln in lines if ln.get("round") == r]
        assert len(attempts) == racers
        assert {ln["base"] for ln in attempts} == {r}
        assert [ln["won"] for ln in attempts if "won" in ln] == [r + 1]
        assert sum(ln.get("lost", False) for ln in attempts) == racers - 1

    won = sorted(ln["won"] for ln in lines if "won" in ln)
    last = rounds + racers * appends
    assert won == list(range(1, last + 1))
    assert [m["version"] for m in store.history("t")] == list(range(last, -1, -1))
    final = store.snapshot("t")
    assert final["version"] == last
    assert sorted(os.path.basename(f["path"]) for f in final["files"]) == \
        sorted(ln["tag"] + ".parquet" for ln in lines if "won" in ln)
    for ln in lines:
        if "won" in ln:
            st = os.stat(store._manifest_path("t", ln["won"]))
            assert (st.st_ino, st.st_mtime_ns) == (ln["ino"], ln["mtime"])


def test_lost_link_raises_when_pinned_and_retries_when_blind(
        spark, tmp_path, monkeypatch):
    """A commit that read version n while another writer published n + 1
    loses the link to n + 1. Pinned, it raises ConcurrentWriteError;
    blind, it re-reads and lands as n + 2. Version n + 1 is untouched."""
    store = TableStore(str(tmp_path / "store"))
    store.overwrite(spark, spark.createDataFrame([(1,)], "id long"), "t")
    v0 = store.snapshot("t")
    restore(store, "t", 0)
    v1_file = store._manifest_path("t", 1)
    before = os.stat(v1_file).st_mtime_ns
    stale = [v0]
    real = TableStore.manifest

    def manifest(self, name):  # the first read is from before v1
        return stale.pop() if stale else real(self, name)

    monkeypatch.setattr(TableStore, "manifest", manifest)
    with pytest.raises(ConcurrentWriteError, match="at version 1"):
        store._commit("t", v0["dirs"], [], "x", files=v0["files"],
                      expected_base=0)
    stale.append(v0)
    assert store._commit("t", v0["dirs"], [], "blind",
                         files=v0["files"]) == 2
    assert os.stat(v1_file).st_mtime_ns == before
    assert [m["operation"] for m in store.history("t")] == \
        ["blind", "restore", "overwrite"]


#: Runs ``restore(store, "t", 0)`` in a fresh process and SIGKILLs itself
#: at ``sys.argv[2]``: before the link (its tmp file written), after the
#: link, or after the pointer swap.
_DYING = """
import os, signal, sys
import projectone_spark.store as sm
import projectone_spark.store.versioned as pub
from projectone_spark.store.maintenance import restore

root, step = sys.argv[1], sys.argv[2]
die = lambda: os.kill(os.getpid(), signal.SIGKILL)
real_publish = sm.publish
if step == "tmp":
    pub.os.link = lambda *a: die()
elif step == "link":
    pub.os.replace = lambda *a: die()
else:
    sm.publish = lambda *a: (real_publish(*a), die())
restore(sm.TableStore(root), "t", 0)
"""


class _Died(Exception):
    pass


def _raise_at(step: str, monkeypatch) -> None:
    """Makes the next publish raise at ``step`` in this process."""
    import projectone_spark.store as sm
    import projectone_spark.store.versioned as pub

    def die(*args):
        raise _Died(step)

    if step == "tmp":
        monkeypatch.setattr(pub.os, "link", die)
    elif step == "link":
        monkeypatch.setattr(pub.os, "replace", die)
    else:
        real = sm.publish
        monkeypatch.setattr(sm, "publish",
                            lambda *a: (real(*a), die()))


@pytest.mark.parametrize("how", ["raise", "kill"])
@pytest.mark.parametrize("step", ["tmp", "link", "swap"])
def test_writer_dying_mid_publish_leaves_v_or_next(spark, tmp_path,
                                                   monkeypatch, step, how):
    """A restore to v0 (3 rows) on a table at v1 (5 rows) dies after its
    tmp write, after its link, or after its pointer swap, by an exception
    or by SIGKILL. The table then reads as exactly v1, or as v2 once the
    link exists; ``history()`` and ``vacuum`` work; the next commit lands
    at once as the following version."""
    store = TableStore(str(tmp_path / "store"))
    rows = spark.createDataFrame([(i,) for i in range(5)], "id long")
    store.overwrite(spark, rows.limit(3), "t")
    store.append(spark, rows.filter("id >= 3"), "t")
    if how == "kill":
        p = _python(_DYING, store.root, step)
        p.communicate(timeout=120)
        assert p.returncode == -signal.SIGKILL
    else:
        with monkeypatch.context() as mp:
            _raise_at(step, mp)
            with pytest.raises(_Died):
                restore(store, "t", 0)
    expected = {"tmp": (1, 5)}.get(step, (2, 3))
    m = store.snapshot("t")
    assert (m["version"], store.read(spark, "t").count()) == expected
    assert [h["version"] for h in store.history("t")] == \
        list(range(expected[0], -1, -1))
    vacuum(store, "t")
    assert store.read(spark, "t").count() == expected[1]
    start = time.monotonic()
    assert restore(store, "t", 1) == expected[0] + 1
    assert time.monotonic() - start < 1.0
    assert store.read(spark, "t").count() == 5


def test_no_operation_writes_a_version_file_in_place(spark, tmp_path,
                                                     monkeypatch):
    """Every table operation publishes its manifest by a link only: no
    ``_manifest_v*.json`` is ever opened for writing."""
    from projectone_spark.config.data_objects import Table, TableColumn
    from projectone_spark.store import create_if_not_exists
    from projectone_spark.store.dml import delete_where, merge_into, update_where
    from projectone_spark.store.maintenance import clone
    from projectone_spark.store.skipping import add_value_set_stats
    from projectone_spark.writers import WRITERS

    written = []
    real = builtins.open

    def counting(path, mode="r", *args, **kwargs):
        fn = os.path.basename(os.fspath(path)) if isinstance(
            path, (str, os.PathLike)) else ""
        if fn.startswith("_manifest_v") and set(mode) & set("wax+"):
            written.append(fn)
        return real(path, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting)
    store = TableStore(str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a", 0), (2, "b", 1)],
                               "id long, name string, p int")
    store.overwrite(spark, df, "t", partition_by=["p"])
    store.append(spark, df.selectExpr("id + 2 AS id", "name", "p"), "t")
    store.selective_overwrite(spark, df.filter("p = 0"), "t",
                              partition_values={"p": [0]})
    for kind in ("scd1", "scd2", "scd3"):
        extra = {"tracked_cols": ["name"]} if kind == "scd3" else {}
        WRITERS[kind](spark, store, df, kind, key_cols=["id"], **extra)
        WRITERS[kind](spark, store, df.selectExpr("id", "'z' AS name", "p"),
                      kind, key_cols=["id"], **extra)
    update_where(store, spark, "t", [("id", "=", 1)], {"name": "'u'"})
    merge_into(store, spark, "t", df, ["id"],
               when_matched_update={"name": "source.name"})
    delete_where(store, spark, "t", [("id", "=", 2)])
    restore(store, "t", 0)
    clone(store, "t", "t_clone")
    add_value_set_stats(store, "t", ["name"])
    assert create_if_not_exists(store, spark, Table(
        name="contract", columns=[TableColumn(name="id", type="bigint")])) == 0
    assert store.version("t") == 7
    assert written == []


def test_racing_creates_make_one_version(spark, tmp_path, monkeypatch):
    """Two ``create_if_not_exists`` calls race on one table: the one that
    commits first makes v0 (operation ``create``, with its properties);
    the other returns None instead of committing a second version."""
    from projectone_spark.config.data_objects import Table, TableColumn
    from projectone_spark.store import create_if_not_exists

    store = TableStore(str(tmp_path / "store"))
    table = Table(name="c", columns=[TableColumn(name="id", type="bigint")],
                  properties={"owner": "etl"})
    real = TableStore._write_dir
    inner = []

    def write_dir(self, *args, **kwargs):
        # the outer create has passed its exists check; the inner one
        # commits first
        if not inner:
            inner.append(None)
            inner[0] = create_if_not_exists(store, spark, table)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(TableStore, "_write_dir", write_dir)
    assert create_if_not_exists(store, spark, table) is None
    assert inner == [0]
    assert [m["version"] for m in store.history("c")] == [0]
    m = store.snapshot("c")
    assert m["operation"] == "create" and m["properties"] == {"owner": "etl"}


def test_concurrent_state_sets_keep_every_version(tmp_path):
    """Threads set one key at once: every value lands in its own
    ``_v{n}`` and the versions are contiguous."""
    from projectone_spark.store.state import StateStore

    state = StateStore(str(tmp_path / "state"))
    threads, sets = 4, 25
    got: list[int] = []

    def worker(t: int) -> None:
        for i in range(sets):
            got.append(state.set("k", {"t": t, "i": i}))

    ts = [threading.Thread(target=worker, args=(t,)) for t in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    n = threads * sets
    assert sorted(got) == list(range(n))
    values = [state.get_version("k", v)["value"] for v in range(n)]
    assert sorted((v["t"], v["i"]) for v in values) == \
        [(t, i) for t in range(threads) for i in range(sets)]
    assert state.get("k")["version"] == n - 1


def test_rewrite_reads_footers_of_written_files_only(spark, tmp_path,
                                                     monkeypatch):
    """An ``update_where`` on one partition of a 16-file table links the
    14 files it does not touch with their stats entries carried over, and
    opens parquet footers only for the files it wrote."""
    from projectone_spark.store.dml import update_where

    store = TableStore(str(tmp_path / "store"))
    df = spark.range(64).selectExpr("id", "id % 8 AS p", "0 AS v")
    store.overwrite(spark, df.repartition(2), "t", partition_by=["p"],
                    stats_columns=["id"])
    before = store.snapshot("t")
    assert len(before["files"]) == 16
    opened = []
    real = pq.ParquetFile

    def counting(path, *args, **kwargs):
        opened.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    update_where(store, spark, "t", [("p", "=", 3)], {"v": "1"})
    m = store.snapshot("t")
    new = m["metrics"]["changed_new"]
    assert (m["metrics"]["files_rewritten"], m["metrics"]["files_linked"],
            m["metrics"]["rows_scanned"]) == (2, 14, 8)
    assert sorted(opened) == sorted(new)
    carried = {os.path.relpath(f["path"], before["dirs"][0]): f
               for f in before["files"]}
    for f in m["files"]:
        if f["path"] not in new:
            old = carried[os.path.relpath(f["path"], m["dirs"][0])]
            assert f == {**old, "path": f["path"]}
    assert store.read(spark, "t").filter("v = 1").count() == 8


def test_small_append_commits_no_empty_file(spark, tmp_path):
    """Spark writes an empty file beside the one row of a small write; the
    commit deletes it, so the version lists one file and the dir holds
    one, and a stream trigger over two one-row appends plans two
    partitions. A wholly empty write keeps its one file."""
    from projectone_spark.store import _data_files
    from projectone_spark.sources.store_stream import StoreChangesStreamReader

    store = TableStore(str(tmp_path / "store"))
    empty = spark.createDataFrame([], "id long")
    store.overwrite(spark, empty, "t")
    assert len(store.snapshot("t")["files"]) == 1
    one = spark.createDataFrame([(1,)], "id long")
    assert one.rdd.getNumPartitions() > 1
    reader = StoreChangesStreamReader({"root": store.root, "table": "t"})
    start = reader.latestOffset()
    store.append(spark, one, "t")
    m = store.snapshot("t")
    assert [f["rows"] for f in m["files"]] == [0, 1]
    assert _data_files([m["dirs"][-1]]) == [m["files"][-1]["path"]]
    store.append(spark, one, "t")
    parts = reader.partitions(start, reader.latestOffset())
    assert len(parts) == 2


def test_vacuum_removes_stale_publish_tmp(spark, tmp_path, monkeypatch):
    """A commit whose link fails leaves its tmp file beside the manifests.
    ``vacuum`` keeps it while it is young (a live writer may be about to
    link it) and removes it once it is older than UNCOMMITTED_MIN_AGE_S."""
    from projectone_spark.store.maintenance import UNCOMMITTED_MIN_AGE_S

    store = TableStore(str(tmp_path / "store"))
    store.overwrite(spark, spark.createDataFrame([(1,)], "id long"), "t")
    with monkeypatch.context() as mp:
        _raise_at("tmp", mp)
        with pytest.raises(_Died):
            restore(store, "t", 0)
    tdir = store._table_dir("t")
    [tmp] = [os.path.join(tdir, n) for n in os.listdir(tdir) if ".tmp." in n]
    assert vacuum(store, "t") == []
    assert os.path.exists(tmp)
    aged = time.time() - UNCOMMITTED_MIN_AGE_S - 60
    os.utime(tmp, (aged, aged))
    assert vacuum(store, "t") == [tmp]
    assert not os.path.exists(tmp)
    assert store.read(spark, "t").count() == 1


def test_small_append_leaves_no_orphan_checksum(spark, tmp_path):
    """The 0-row file a small write drops takes Hadoop's ``.crc`` beside it
    along: every checksum left in the data dir belongs to a data file."""
    store = TableStore(str(tmp_path / "store"))
    one = spark.createDataFrame([(1,)], "id long")
    assert one.rdd.getNumPartitions() > 1
    store.append(spark, one, "t")
    [d] = store.snapshot("t")["dirs"]
    names = set(os.listdir(d))
    crcs = {n for n in names if n.endswith(".crc")}
    assert crcs, "the writer left no checksums to check"
    assert {n[1:-len(".crc")] for n in crcs} <= names
