"""Table maintenance: compaction preserves data and collapses fragments,
vacuum enforces retention without touching live versions, schema-evolving
appends widen the table safely."""

import os

import pyspark.sql.functions as F
import pytest

from projectone_spark.store import TableStore, read_changes
from projectone_spark.store.maintenance import (
    UNCOMMITTED_MIN_AGE_S, append_evolve, clone, compact,
    restore, table_files, vacuum, zorder_cluster,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def store(tmp_path):
    return TableStore(str(tmp_path / "store"))


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_compact_collapses_fragmented_appends(spark, store):
    df = _orders(spark)
    # 6 tiny append commits → 6+ small files across 6 dirs
    for i in range(6):
        store.append(spark, df.filter(F.col("o_orderkey") % 6 == i)
                     .repartition(2), "orders")
    before = table_files(store, "orders")
    assert len(before) >= 12
    v = compact(store, spark, "orders", target_file_bytes=64 * 1024 * 1024)
    assert v is not None
    after = table_files(store, "orders")
    assert len(after) < len(before)
    assert len(store.manifest("orders")["dirs"]) == 1
    got = sorted(map(tuple, store.read(spark, "orders").collect()))
    assert got == sorted(map(tuple, df.collect()))
    # already compact → no-op
    assert compact(store, spark, "orders",
                   target_file_bytes=64 * 1024 * 1024) is None


def test_compact_keeps_partition_spec(spark, store):
    df = _orders(spark)
    for i in range(3):
        store.append(spark, df.filter(F.col("o_orderkey") % 3 == i), "orders",
                     partition_by=["o_orderstatus"])
    compact(store, spark, "orders", target_file_bytes=64 * 1024 * 1024)
    m = store.manifest("orders")
    assert m["partition_by"] == ["o_orderstatus"]
    assert store.read(spark, "orders").count() == df.count()
    # partition dirs exist in the compacted snapshot
    sub = os.listdir(m["dirs"][0])
    assert any(e.startswith("o_orderstatus=") for e in sub)


def test_vacuum_retention(spark, store):
    df = _orders(spark).limit(50)
    store.overwrite(spark, df, "orders")                # v0 → dir A
    store.append(spark, df, "orders")                   # v1 → dirs A+B
    store.overwrite(spark, df.limit(10), "orders")      # v2 → dir C
    # keep_versions=2 keeps v2+v1, and v1 still references v0's dir: no-op
    assert vacuum(store, "orders", keep_versions=2) == []
    assert store.read_version(spark, "orders", 0).count() == 50
    # keep_versions=1 drops A and B (only v2's dir survives)
    dropped = vacuum(store, "orders", keep_versions=1)
    assert len(dropped) == 2
    assert store.read(spark, "orders").count() == 10
    with pytest.raises(Exception):
        store.read_version(spark, "orders", 0).collect()
    with pytest.raises(Exception):
        # change feed needing vacuumed files is gone too (Delta-identical)
        read_changes(store, spark, "orders", 2, 2).collect()


def test_append_evolve_new_and_missing_columns(spark, store):
    df = _orders(spark).select("o_orderkey", "o_totalprice").limit(20)
    append_evolve(store, spark, df, "orders")
    widened = (_orders(spark)
               .select("o_orderkey", "o_totalprice")
               .withColumn("channel", F.lit("web")).limit(20))
    append_evolve(store, spark, widened, "orders")
    got = store.read(spark, "orders")
    assert set(got.columns) == {"o_orderkey", "o_totalprice", "channel"}
    assert got.count() == 40
    assert got.filter(F.col("channel").isNull()).count() == 20
    # narrower-than-table frame: missing column null-filled
    narrow = _orders(spark).select("o_orderkey", "o_totalprice").limit(5)
    append_evolve(store, spark, narrow, "orders")
    got = store.read(spark, "orders")
    assert got.count() == 45
    assert got.filter(F.col("channel").isNull()).count() == 25


def test_append_evolve_type_conflict_raises(spark, store):
    df = _orders(spark).select("o_orderkey", "o_totalprice").limit(5)
    append_evolve(store, spark, df, "orders")
    bad = df.withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
    with pytest.raises(TypeError, match="o_totalprice"):
        append_evolve(store, spark, bad, "orders")


@pytest.mark.parametrize("op", ["compact", "zorder"])
def test_compact_preserves_evolved_columns(spark, store, op):
    """Regression: compact() (and the deleted second Z-order) read with one
    file's schema and could rewrite the table without columns added by
    append_evolve."""
    base = _orders(spark).select("o_orderkey", "o_totalprice").limit(30)
    append_evolve(store, spark, base.repartition(2), "orders")
    widened = (_orders(spark).select("o_orderkey", "o_totalprice")
               .withColumn("channel", F.lit("web")).limit(30))
    append_evolve(store, spark, widened.repartition(2), "orders")
    if op == "compact":
        v = compact(store, spark, "orders", target_file_bytes=64 * 1024 * 1024)
    else:
        v = zorder_cluster(store, spark, "orders",
                           ["o_orderkey", "o_totalprice"], target_files=2)
    assert v is not None
    got = store.read(spark, "orders")
    assert "channel" in got.columns
    assert got.count() == 60
    assert got.filter(F.col("channel") == "web").count() == 30


def test_read_partitioned_multicommit_keeps_partition_column(spark, store):
    """Regression: a read with one basePath across sibling commit dirs
    crashed on partitioned multi-commit tables."""
    df = _orders(spark)
    store.overwrite(spark, df.limit(40), "orders",
                    partition_by=["o_orderstatus"])
    store.append(spark, df.limit(80).exceptAll(df.limit(40)), "orders")
    got = store.read(spark, "orders")
    assert got.count() == 80
    assert "o_orderstatus" in got.columns


def test_restore_rolls_back_as_new_commit(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df.limit(50), "orders")            # v0
    store.overwrite(spark, df.limit(10), "orders")            # v1
    v = restore(store, "orders", 0)                           # v2 == v0 data
    assert v == 2
    assert store.read(spark, "orders").count() == 50
    # time travel still sees every version, including past the restore
    assert store.read_version(spark, "orders", 1).count() == 10
    # restored dirs are live again: vacuum keeping 1 version must not
    # delete the data the current manifest points at
    vacuum(store, "orders", keep_versions=1)
    assert store.read(spark, "orders").count() == 50
    m = store.manifest("orders")
    assert m["operation"] == "restore"
    assert m["metrics"]["restored_from"] == 0


def test_restore_vacuumed_version_raises(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df.limit(50), "orders")            # v0
    store.overwrite(spark, df.limit(10), "orders")            # v1
    vacuum(store, "orders", keep_versions=1)                  # drops v0 dir
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        restore(store, "orders", 0)
    with pytest.raises(FileNotFoundError, match="no version"):
        restore(store, "orders", 99)


def test_clone_is_independent_of_source(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df.limit(40), "orders",
                    partition_by=["o_orderstatus"])
    v = clone(store, "orders", "orders_copy")
    assert v == 0
    got = store.read(spark, "orders_copy")
    assert got.count() == 40
    assert "o_orderstatus" in got.columns
    assert store.manifest("orders_copy")["partition_by"] == ["o_orderstatus"]
    # mutate + vacuum the source; the clone must be unaffected
    store.overwrite(spark, df.limit(5), "orders")
    vacuum(store, "orders", keep_versions=1)
    assert store.read(spark, "orders_copy").count() == 40
    with pytest.raises(FileExistsError):
        clone(store, "orders", "orders_copy")
    with pytest.raises(FileNotFoundError):
        clone(store, "nope", "x")


def test_clone_carries_skipping_stats(spark, store):
    """File-level min/max stats must survive the clone with remapped
    paths, so read_where pruning works on the clone."""
    df = _orders(spark)
    store.overwrite(spark, df.repartition(4), "orders",
                    stats_columns=["o_orderkey"])
    clone(store, "orders", "orders_copy")
    files = store.manifest("orders_copy")["files"]
    assert files
    for f in files:
        assert os.path.isfile(f["path"])
        assert "/orders_copy/" in f["path"]
    from projectone_spark.store.skipping import read_where

    lo = store.read(spark, "orders").agg(F.min("o_orderkey")).first()[0]
    got = read_where(store, spark, "orders_copy",
                     [("o_orderkey", "==", lo)])
    assert got.count() >= 1


def test_compact_refuses_bucketed_table(spark, store):
    from projectone_spark.store.bucketing import write_bucketed

    write_bucketed(store, spark, _orders(spark).repartition(4), "orders",
                   ["o_custkey"], 4)
    # make it look fragmented enough to trigger the rewrite path
    with pytest.raises(ValueError, match="bucketed"):
        compact(store, spark, "orders", target_file_bytes=10**9)


def test_vacuum_time_retention(spark, store):
    """retention_seconds keeps recently-committed versions alive even past
    the version floor; aging them out makes them collectable."""
    import json
    import os as _os

    df = _orders(spark).limit(30)
    store.overwrite(spark, df.limit(10), "orders")       # v0
    store.overwrite(spark, df.limit(20), "orders")       # v1
    store.overwrite(spark, df.limit(30), "orders")       # v2
    # everything committed "now": a 1-hour retention keeps all versions
    assert vacuum(store, "orders", keep_versions=1,
                  retention_seconds=3600) == []
    assert store.read_version(spark, "orders", 0).count() == 10
    # age v0/v1 manifests past the horizon → their dirs become collectable
    for v in (0, 1):
        p = _os.path.join(store._table_dir("orders"), f"_manifest_v{v}.json")
        m = json.load(open(p))
        m["committed_at"] -= 7200
        json.dump(m, open(p, "w"))
    dropped = vacuum(store, "orders", keep_versions=1,
                     retention_seconds=3600)
    assert len(dropped) == 2
    assert store.read(spark, "orders").count() == 30


def test_vacuum_spares_uncommitted_dirs(spark, store, monkeypatch):
    """A vacuum that runs between an append's data write and its commit
    must leave the written-but-uncommitted dir alone (regression: it was
    deleted and the append committed a manifest naming it). Superseded
    versions' dirs are still collected, and so is an uncommitted dir
    older than the age floor (a crashed writer's orphan)."""
    import time

    df = _orders(spark).limit(50)
    store.overwrite(spark, df.limit(10), "orders")      # v0, superseded
    store.overwrite(spark, df.limit(20), "orders")      # v1
    [v0_dir] = store.history("orders")[-1]["dirs"]
    commit = store._commit
    dropped = []

    def vacuum_then_commit(name, *args, **kwargs):
        dropped.extend(vacuum(store, name, keep_versions=1))
        return commit(name, *args, **kwargs)

    monkeypatch.setattr(store, "_commit", vacuum_then_commit)
    store.append(spark, df.limit(30), "orders")
    monkeypatch.undo()
    assert dropped == [v0_dir]
    assert store.read(spark, "orders").count() == 50
    orphan = os.path.join(store._table_dir("orders"), "v9-orphan")
    os.makedirs(orphan)
    aged = time.time() - UNCOMMITTED_MIN_AGE_S - 60
    os.utime(orphan, (aged, aged))
    assert vacuum(store, "orders", keep_versions=1) == [orphan]


def test_read_uniform_schemas_equals_merge_schema_read(spark, store):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    store.append(spark, df, "t")
    store.append(spark, df, "t")
    got = store.read(spark, "t")
    want = spark.read.option("mergeSchema", "true") \
        .parquet(*store.manifest("t")["dirs"])
    assert got.schema == want.schema
    assert got.count() == 4


def test_evolved_schemas_fall_back_to_inference(spark, store):
    store.append(spark, spark.createDataFrame([(1,)], "k long"), "t")
    append_evolve(store, spark,
                  spark.createDataFrame([(2, "b")], "k long, s string"), "t")
    m = store.manifest("t")
    # two dirs with DIFFERENT recorded schemas: the single-schema fast
    # path must not engage, and the merged read stays correct
    assert len({m["schemas"][d] for d in m["dirs"]}) == 2
    got = store.read(spark, "t")
    assert {tuple(r) for r in got.select("k", "s").collect()} \
        == {(1, None), (2, "b")}


# ---------------------------------------------------------------- zorder


@pytest.mark.parametrize("key", ["bigint", "date", "timestamp_ntz",
                                 "decimal(12,2)"])
def test_zorder_preserves_data_and_improves_2d_pruning(spark, store, key):
    """Z-orders ``l_suppkey`` with a key derived from ``l_partkey``: the
    column itself, or a DATE, TIMESTAMP_NTZ or decimal image of it, each
    ranked in its own type (regression: the old ranking cast every key
    to DOUBLE, which fails for DATE and TIMESTAMP_NTZ)."""
    import datetime

    from projectone_spark.store.skipping import prune_files

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    day0 = datetime.date(1992, 1, 1)
    days = F.date_add(F.lit(day0), F.col("l_partkey").cast("int"))
    k = {"bigint": "l_partkey", "date": "k_date", "timestamp_ntz": "k_ntz",
         "decimal(12,2)": "k_dec"}[key]
    li = li.withColumn(k, {
        "bigint": F.col("l_partkey"),
        "date": days,
        "timestamp_ntz": days.cast("timestamp_ntz"),
        "decimal(12,2)": (F.col("l_partkey") / 100).cast("decimal(12,2)"),
    }[key])
    store.overwrite(spark, li.repartition(8), "li",
                    stats_columns=[k, "l_suppkey"])
    before = sorted(map(tuple, store.read(spark, "li")
                        .drop("__metadata_valid_to_ts__").collect()))
    mx = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    pk = int(mx[0]) // 4
    cut = {"bigint": pk,
           "date": day0 + datetime.timedelta(days=pk),
           "timestamp_ntz": datetime.datetime.combine(
               day0 + datetime.timedelta(days=pk), datetime.time()),
           "decimal(12,2)": pk / 100}[key]
    preds = [(k, "<=", cut),
             ("l_suppkey", "<=", int(mx[1]) // 4)]
    kept0, total0 = prune_files(store.manifest("li"), preds)

    zorder_cluster(store, spark, "li", [k, "l_suppkey"],
                   target_files=8)
    after = sorted(map(tuple, store.read(spark, "li")
                       .drop("__metadata_valid_to_ts__").collect()))
    assert after == before  # a clustering rewrite must not touch values
    kept1, total1 = prune_files(store.manifest("li"), preds)
    assert len(kept1) < total1  # the 2-D box actually prunes files
    # and never prunes WORSE than the unclustered layout (fractionally)
    assert len(kept1) * total0 <= len(kept0) * total1


def test_zorder_null_keys_survive(spark, store):
    df = spark.createDataFrame(
        [(1, 10, 5), (2, None, 7), (3, 20, None), (4, None, None)],
        "id bigint, a bigint, b bigint")
    store.overwrite(spark, df, "t", stats_columns=["a", "b"])
    zorder_cluster(store, spark, "t", ["a", "b"], target_files=2)
    got = sorted(map(tuple, store.read(spark, "t")
                     .select("id", "a", "b").collect()))
    assert got == [(1, 10, 5), (2, None, 7), (3, 20, None), (4, None, None)]


def test_zorder_all_null_column_degrades_to_single_bucket(spark, store):
    """ADVICE r7: an entirely-NULL clustered column makes percentile_approx
    return NULL bounds — must produce a degenerate single-bucket layout,
    not a TypeError from iterating None."""
    df = spark.createDataFrame(
        [(1, 10, None), (2, 20, None), (3, 30, None)],
        "id bigint, a bigint, b bigint")
    store.overwrite(spark, df, "t", stats_columns=["a", "b"])
    zorder_cluster(store, spark, "t", ["a", "b"], target_files=2)
    got = sorted(map(tuple, store.read(spark, "t")
                     .select("id", "a", "b").collect()))
    assert got == [(1, 10, None), (2, 20, None), (3, 30, None)]


def test_zorder_rejects_bad_args(spark, store):
    df = spark.range(10).withColumn("a", F.col("id") % 3)
    store.overwrite(spark, df, "t")
    with pytest.raises(ValueError, match="1-4 columns"):
        zorder_cluster(store, spark, "t", [])
    with pytest.raises(FileNotFoundError):
        zorder_cluster(store, spark, "missing", ["a"])


def test_zorder_keeps_declared_stats_and_set_columns(spark, store):
    df = spark.createDataFrame([(i, i % 7, i % 5, f"c{i % 3}")
                                for i in range(40)],
                               "a bigint, b bigint, c bigint, cat string")
    store.overwrite(spark, df, "t", stats_columns=["c"], set_columns=["cat"])
    zorder_cluster(store, spark, "t", ["a", "b"], target_files=2)
    m = store.manifest("t")
    assert m["stats_columns"] == ["c", "a", "b"]
    assert m["set_columns"] == ["cat"]
    assert all("c" in f["min"] and "a" in f["min"] and "cat" in f["vals"]
               for f in m["files"])
