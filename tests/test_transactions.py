"""Store transactionality: idempotent (app_id, version) appends, commit
conflict detection for snapshot-derived rewrites, and append retries that
make concurrent appends all land."""

import threading

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


def test_index_build_lets_a_concurrent_append_land(spark, store, monkeypatch):
    """``add_value_set_stats`` reads data files before it commits: an
    append that commits during the build lands at once, and the build,
    pinned to the version it listed, re-reads and commits after it, with
    sets for the appended files too."""
    from projectone_spark.store import skipping

    df = _orders(spark).limit(4)
    store.overwrite(spark, df, "orders")
    real = skipping.value_set_stats
    appended = []

    def reading(*args, **kwargs):
        if not appended:
            appended.append(store.append(spark, df, "orders"))
        return real(*args, **kwargs)

    monkeypatch.setattr(skipping, "value_set_stats", reading)
    m = skipping.add_value_set_stats(store, "orders", ["o_orderstatus"])
    assert appended == [1] and m["version"] == 2
    assert m["operation"] == "value_sets"
    assert m["set_columns"] == ["o_orderstatus"]
    appended_files = store.snapshot("orders", 1)["files"]
    assert [f["path"] for f in m["files"]] == [f["path"] for f in appended_files]
    assert all("vals" in f for f in m["files"])
    assert [h["version"] for h in store.history("orders")] == [2, 1, 0]
    assert store.read(spark, "orders").count() == 8
