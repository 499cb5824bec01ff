"""Store transactionality: idempotent (app_id, version) appends, commit
conflict detection for snapshot-derived rewrites, and append retries that
make concurrent appends all land."""

import threading
import time

import pyspark.sql.functions as F
import pytest

from projectone_spark.store import ConcurrentWriteError, TableStore

SF = "/root/testdata/sf0.001"


@pytest.fixture
def store(tmp_path):
    return TableStore(str(tmp_path / "store"))


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_txn_append_replay_is_skipped(spark, store):
    from projectone_spark.streaming import exactly_once_appender

    df = _orders(spark).limit(10)
    write = exactly_once_appender(store, "orders", "app1")
    write(df, 0)
    write(df, 1)
    n = store.read(spark, "orders").count()
    assert n == 20
    # replayed micro-batch (restart after checkpoint loss) → no-op
    write(df, 1)
    write(df, 0)
    assert store.read(spark, "orders").count() == 20
    assert store.txn_version("orders", "app1") == 1
    assert store.txn_version("orders", "other") == -1
    # a different app_id has its own watermark
    exactly_once_appender(store, "orders", "app2")(df, 0)
    assert store.read(spark, "orders").count() == 30


def test_txn_watermark_survives_other_commits(spark, store):
    from projectone_spark.store.dml import delete_where
    from projectone_spark.streaming import exactly_once_appender

    df = _orders(spark).limit(10)
    write = exactly_once_appender(store, "orders", "app1")
    write(df, 7)
    delete_where(store, spark, "orders",
                 [("o_orderkey", ">", -1)])  # rewrites the snapshot
    assert store.txn_version("orders", "app1") == 7
    write(df, 7)  # replay after the delete: still skipped
    assert store.read(spark, "orders").count() == 0


def test_commit_conflict_detection(spark, store):
    df = _orders(spark).limit(5)
    store.overwrite(spark, df, "orders")
    m = store.manifest("orders")
    with pytest.raises(ConcurrentWriteError, match="version"):
        store._commit("orders", m["dirs"], [], "x", expected_base=5)


def test_rewrite_raises_on_concurrent_append(spark, store, monkeypatch):
    """An append landing between a DELETE's snapshot read and its commit
    must fail the DELETE (whose rewrite would drop the appended rows)."""
    from projectone_spark.store import dml

    df = _orders(spark).limit(20)
    store.overwrite(spark, df, "orders", stats_columns=["o_orderkey"])

    fired = {}
    orig = dml.predicates_to_sql

    def hijack(predicates):
        # called once inside _rewrite after the manifest read; sneak a
        # concurrent append in before the delete commits
        if "x" not in fired:
            fired["x"] = True
            store.append(spark, df.limit(3), "orders")
        return orig(predicates)

    monkeypatch.setattr(dml, "predicates_to_sql", hijack)
    with pytest.raises(ConcurrentWriteError, match="re-read and retry"):
        dml.delete_where(store, spark, "orders", [("o_orderkey", ">", -1)])
    # nothing was lost: the concurrent append's rows are all present
    assert store.read(spark, "orders").count() == 23


def test_concurrent_appends_all_land(spark, store):
    df = _orders(spark).limit(4)
    store.overwrite(spark, df, "orders")
    errors = []

    def worker():
        try:
            for _ in range(5):
                store.append(spark, df, "orders")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    # 1 overwrite + 20 appends, all retained, versions strictly sequential
    assert store.version("orders") == 20
    assert store.read(spark, "orders").count() == 4 * 21
    versions = [m["version"] for m in store.history("orders")]
    assert versions == list(range(20, -1, -1))


def test_merge_into_records_txn_watermark(spark, tmp_path):
    """Review regression (r4): merge_into must be usable in an
    exactly-once foreachBatch — the (app_id, batch_id) txn watermark is
    recorded inside the SAME manifest commit as the merged data, so a
    replayed micro-batch (at-least-once delivery) is detected by the
    caller's txn_version check and skipped instead of double-folding
    `target.n + source.n` updates (st12's pattern)."""
    import pyspark.sql.functions as F  # noqa: F401

    from projectone_spark.store import TableStore
    from projectone_spark.store.dml import merge_into

    store = TableStore(str(tmp_path / "store"))
    base = spark.createDataFrame([("a", 1), ("b", 1)], "k string, n long")
    store.append(spark, base, "t", txn=("app", 0))
    batch = spark.createDataFrame([("a", 1), ("c", 1)], "k string, n long")

    def replayable_merge(batch_df, batch_id):
        if batch_id <= store.txn_version("t", "app"):
            return  # replay detected
        merge_into(store, spark, "t", batch_df, ["k"],
                   when_matched_update={"n": "target.n + source.n"},
                   txn=("app", batch_id))

    replayable_merge(batch, 1)
    replayable_merge(batch, 1)  # at-least-once redelivery: must be a no-op
    got = {r["k"]: r["n"] for r in store.read(spark, "t").collect()}
    assert got == {"a": 2, "b": 1, "c": 1}
    assert store.txn_version("t", "app") == 1


def _racing_writes(write_type, t0, t1):
    """(initial write, racing write) for one case; each is called with
    (spark, store, df) on table 'dim'."""
    from projectone_spark.writers import WRITERS

    if write_type.startswith("selective"):
        cond = ({"partition_values": {"id": [2]}}
                if write_type == "selective_partition_values"
                else {"replace_where": "id = 2"})
        return (lambda spark, store, df: store.overwrite(
                    spark, df, "dim", partition_by=["id"]),
                lambda spark, store, df: store.selective_overwrite(
                    spark, df, "dim", **cond))
    scd = write_type.removesuffix("_partition_prune")
    kwargs = {"scd1": lambda t: {"now": t},
              "scd2": lambda t: {"valid_from": t},
              "scd3": lambda t: {"now": t, "tracked_cols": ["name"]}}[scd]
    first, second = kwargs(t0), kwargs(t1)
    if write_type == "scd1_partition_prune":
        first["partition_by"] = ["id"]
        second["partition_prune"] = True
    write = WRITERS[scd]
    return (lambda spark, store, df: write(spark, store, df, "dim",
                                           key_cols=["id"], **first),
            lambda spark, store, df: write(spark, store, df, "dim",
                                           key_cols=["id"], **second))


@pytest.mark.parametrize("write_type", [
    "scd1", "scd2", "scd3", "scd1_partition_prune",
    "selective_partition_values", "selective_replace_where"])
def test_scd_write_raises_on_concurrent_append(spark, store, monkeypatch,
                                               write_type):
    """An append committed between a rewriting write's snapshot read and
    its commit must fail that write (whose commit would drop the appended
    row), and the appended row must still be in the table. Covers the
    SCD writers, the partition-pruned SCD1 and both selective-overwrite
    forms."""
    t0 = F.lit("2024-01-01").cast("timestamp")
    t1 = F.lit("2024-02-01").cast("timestamp")
    initial, racing = _racing_writes(write_type, t0, t1)
    initial(spark, store, spark.createDataFrame([(1, "a"), (2, "b")],
                                                "id long, name string"))
    current = store.read(spark, "dim")
    # by name: a table partitioned on id reads it back as the last column
    row = current.filter("id = 1").first().asDict()
    extra = spark.createDataFrame([{**row, "id": 99}], current.schema)

    fired = []
    orig = TableStore._write_dir

    def hijack(self, df, path, partition_by, capture_schema=True):
        # the rewrite's data write: a concurrent append commits first
        if not fired:
            fired.append(True)
            store.append(spark, extra, "dim")
        return orig(self, df, path, partition_by, capture_schema)

    monkeypatch.setattr(TableStore, "_write_dir", hijack)
    update = spark.createDataFrame([(2, "B")], "id long, name string")
    with pytest.raises(ConcurrentWriteError, match="re-read and retry"):
        racing(spark, store, update)
    assert fired
    assert store.read(spark, "dim").filter("id = 99").count() == 1


def test_amend_does_not_roll_back_concurrent_append(spark, store, monkeypatch):
    """A slow ``amend_manifest`` mutator runs while an append commits: the
    amend holds the commit lock, so the append lands after it instead of
    being overwritten by the amend's stale copy of the manifest."""
    df = _orders(spark).limit(4)
    store.overwrite(spark, df, "orders")
    amending, committing = threading.Event(), threading.Event()
    real_commit = store._commit

    def commit(*args, **kwargs):
        committing.set()
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(store, "_commit", commit)

    def slow_mutator(m):
        amending.set()
        assert committing.wait(60)
        time.sleep(0.5)  # the append's commit would land here, unlocked
        m["amended"] = True

    errors = []

    def amend_orders():
        try:
            store.amend_manifest("orders", slow_mutator)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    amend = threading.Thread(target=amend_orders)
    amend.start()
    assert amending.wait(60)  # the amend has read version 0
    store.append(spark, df, "orders")
    amend.join(60)
    assert not amend.is_alive() and not errors
    assert store.version("orders") == 1
    assert store.read(spark, "orders").count() == 8
    assert [m.get("amended") for m in store.history("orders")] == [None, True]


def test_index_build_reads_files_outside_commit_lock(spark, store, monkeypatch):
    """``add_value_set_stats`` reads data files before it takes the commit
    lock: an append that commits during the build lands at once, and the
    sets merge into the files they were read from."""
    from projectone_spark.store import skipping

    df = _orders(spark).limit(4)
    store.overwrite(spark, df, "orders")
    real = skipping.value_set_stats
    appended = []

    def reading(*args, **kwargs):
        if not appended:  # with the lock held this append would time out
            appended.append(store.append(spark, df, "orders"))
        return real(*args, **kwargs)

    monkeypatch.setattr(skipping, "value_set_stats", reading)
    m = skipping.add_value_set_stats(store, "orders", ["o_orderstatus"])
    assert appended == [1] and m["version"] == 1
    assert m["set_columns"] == ["o_orderstatus"]
    old, new = store.history("orders")[1], store.history("orders")[0]
    old_paths = {f["path"] for f in old["files"]}
    assert all(("vals" in f) == (f["path"] in old_paths) for f in new["files"])
    assert store.read(spark, "orders").count() == 8


def test_commit_lock_dies_with_its_holder(tmp_path):
    """A writer SIGKILLed while it holds the commit lock blocks no one: the
    kernel drops the lock with the process, and the next commit takes it
    at once (no stale lock file to wait out or delete by hand)."""
    import os
    import signal
    import subprocess
    import sys

    root = str(tmp_path / "store")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time\n"
         "from projectone_spark.store import TableStore\n"
         "with TableStore(sys.argv[1])._commit_lock('t'):\n"
         "    print('locked', flush=True)\n"
         "    time.sleep(600)\n", root],
        cwd=repo, stdout=subprocess.PIPE, text=True,
        env={**os.environ, "PYTHONPATH": repo})
    try:
        assert holder.stdout.readline().strip() == "locked"
        store = TableStore(root)
        with pytest.raises(TimeoutError):
            with store._commit_lock("t", timeout=0.05):
                pass
        holder.send_signal(signal.SIGKILL)
        holder.wait(30)
        start = time.monotonic()
        with store._commit_lock("t", timeout=2.0):
            pass
        assert time.monotonic() - start < 1.0
    finally:
        holder.kill()
        holder.wait(30)
        holder.stdout.close()
