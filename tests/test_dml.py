"""Row-level DELETE/UPDATE: correctness of the rewrite, and proof that
stats-pruned files are hard-linked (same inode), never rewritten."""

import os

import pyspark.sql.functions as F
import pytest

from projectone_spark.store import TableStore
from projectone_spark.store.dml import delete_where, update_where
from projectone_spark.store.maintenance import table_files

SF = "/root/testdata/sf0.001"


@pytest.fixture
def store(tmp_path):
    return TableStore(str(tmp_path / "store"))


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def _inodes(store, name):
    return {p: os.stat(p).st_ino for p, _ in table_files(store, name)}


def test_delete_where_correct_and_versioned(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df.repartition(4), "orders",
                    stats_columns=["o_orderkey"])
    total = df.count()
    hi = df.agg(F.expr("percentile(o_orderkey, 0.9)")).first()[0]
    v = delete_where(store, spark, "orders", [("o_orderkey", ">", int(hi))])
    assert v == 1
    expect = df.filter(F.col("o_orderkey") <= int(hi)).count()
    assert store.read(spark, "orders").count() == expect
    assert store.read(spark, "orders").filter(
        F.col("o_orderkey") > int(hi)).count() == 0
    # time travel still shows the pre-delete snapshot
    assert store.read_version(spark, "orders", 0).count() == total
    m = store.manifest("orders")
    assert m["operation"] == "delete"
    assert m["metrics"]["rows_scanned"] >= m["metrics"]["rows_after_rewrite"]


def test_delete_links_pruned_files(spark, store):
    """Files whose o_orderkey range excludes the predicate keep their
    inode — they are re-linked, not rewritten."""
    df = _orders(spark).orderBy("o_orderkey")  # range-clustered files
    store.overwrite(spark, df.repartitionByRange(4, "o_orderkey"), "orders",
                    stats_columns=["o_orderkey"])
    before = _inodes(store, "orders")
    lo = df.agg(F.min("o_orderkey")).first()[0]
    v = delete_where(store, spark, "orders", [("o_orderkey", "==", int(lo))])
    assert v == 1
    m = store.manifest("orders")
    assert m["metrics"]["files_linked"] >= 2
    assert m["metrics"]["files_rewritten"] <= 2
    after = _inodes(store, "orders")
    shared = set(before.values()) & set(after.values())
    assert len(shared) == m["metrics"]["files_linked"]
    assert store.read(spark, "orders").filter(
        F.col("o_orderkey") == int(lo)).count() == 0


def test_delete_nothing_matches_is_noop(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df, "orders", stats_columns=["o_orderkey"])
    hi = df.agg(F.max("o_orderkey")).first()[0]
    assert delete_where(store, spark, "orders",
                        [("o_orderkey", ">", int(hi) + 1000)]) is None
    assert store.version("orders") == 0


def test_update_where_assignments(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df.repartition(3), "orders",
                    stats_columns=["o_orderkey"])
    mid = int(df.agg(F.expr("percentile(o_orderkey, 0.5)")).first()[0])
    v = update_where(store, spark, "orders",
                     [("o_orderkey", "<=", mid)],
                     {"o_totalprice": "o_totalprice * 2",
                      "o_orderstatus": "'X'"})
    assert v == 1
    got = store.read(spark, "orders")
    assert got.count() == df.count()  # UPDATE never changes row count
    changed = got.filter(F.col("o_orderkey") <= mid)
    untouched = got.filter(F.col("o_orderkey") > mid)
    assert changed.filter(F.col("o_orderstatus") != "X").count() == 0
    assert untouched.filter(F.col("o_orderstatus") == "X").count() == 0
    exp_sum = (df.filter(F.col("o_orderkey") <= mid)
               .agg(F.sum(F.col("o_totalprice") * 2)).first()[0])
    got_sum = changed.agg(F.sum("o_totalprice")).first()[0]
    assert abs(exp_sum - got_sum) < 1e-6


def test_update_partitioned_table(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df, "orders", partition_by=["o_orderstatus"])
    v = update_where(store, spark, "orders",
                     [("o_orderstatus", "==", "F")],
                     {"o_orderpriority": "'redacted'"})
    assert v == 1
    got = store.read(spark, "orders")
    assert got.count() == df.count()
    assert "o_orderstatus" in got.columns
    assert (got.filter((F.col("o_orderstatus") == "F")
                       & (F.col("o_orderpriority") != "redacted")).count() == 0)
    assert (got.filter(F.col("o_orderstatus") != "F")
            .filter(F.col("o_orderpriority") == "redacted").count() == 0)
    # partition pruning via the hive path: only F's files were candidates
    m = store.manifest("orders")
    assert m["metrics"]["files_linked"] >= 1


def test_update_bad_columns_raise(spark, store):
    store.overwrite(spark, _orders(spark), "orders")
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(store, spark, "orders",
                     [("o_orderkey", ">", 0)], {"nope": "1"})
    with pytest.raises(ValueError, match="metadata"):
        update_where(store, spark, "orders",
                     [("o_orderkey", ">", 0)], {"__metadata_active__": "1"})
    from projectone_spark.store.dml import merge_into
    with pytest.raises(ValueError, match="unknown columns"):
        merge_into(store, spark, "orders", _orders(spark).limit(1),
                   ["o_orderkey"], when_matched_update={"nope": "1"})


def test_delete_without_stats_rewrites_everything(spark, store):
    """No stats recorded → every file is a candidate; results still exact."""
    df = _orders(spark)
    store.overwrite(spark, df.repartition(3), "orders")
    hi = int(df.agg(F.expr("percentile(o_orderkey, 0.8)")).first()[0])
    v = delete_where(store, spark, "orders", [("o_orderkey", ">", hi)])
    assert v == 1
    m = store.manifest("orders")
    assert m["metrics"]["files_linked"] == 0
    assert (store.read(spark, "orders").count()
            == df.filter(F.col("o_orderkey") <= hi).count())


def test_merge_into_upsert(spark, store):
    from projectone_spark.store.dml import merge_into

    df = _orders(spark)
    store.overwrite(spark, df.repartitionByRange(4, "o_orderkey"), "orders",
                    stats_columns=["o_orderkey"])
    keys = [r[0] for r in df.select("o_orderkey").limit(3).collect()]
    src = (df.filter(F.col("o_orderkey").isin(keys))
           .withColumn("o_totalprice", F.lit(1.0))
           .unionByName(df.limit(1).withColumn("o_orderkey",
                                               F.lit(10**9))))
    v = merge_into(store, spark, "orders", src, ["o_orderkey"])
    assert v == 1
    got = store.read(spark, "orders")
    assert got.count() == df.count() + 1          # 3 updated, 1 inserted
    assert got.filter(F.col("o_totalprice") == 1.0).count() == 3
    assert got.filter(F.col("o_orderkey") == 10**9).count() == 1


def test_merge_into_matched_delete_and_conditions(spark, store):
    from projectone_spark.store.dml import merge_into

    df = _orders(spark)
    store.overwrite(spark, df, "orders")
    n = df.count()
    some = df.limit(10).select("o_orderkey", "o_totalprice")
    v = merge_into(store, spark, "orders", some, ["o_orderkey"],
                   when_matched_delete="source.o_totalprice > 0",
                   when_not_matched_insert=False)
    assert v == 1
    assert store.read(spark, "orders").count() == n - 10


def test_merge_into_not_matched_by_source_delete(spark, store):
    from projectone_spark.store.dml import merge_into

    df = _orders(spark)
    store.overwrite(spark, df, "orders")
    keep = df.limit(50).select("o_orderkey")
    # target rows absent from source are deleted: merge acts as "sync to
    # source key set" — every file is a candidate (no pruning possible)
    v = merge_into(store, spark, "orders", keep, ["o_orderkey"],
                   when_matched_update={},
                   when_not_matched_insert=False,
                   when_not_matched_by_source_delete=True)
    assert v == 1
    got = store.read(spark, "orders")
    assert got.count() == 50
    assert (sorted(r[0] for r in got.select("o_orderkey").collect())
            == sorted(r[0] for r in keep.collect()))


def test_merge_into_duplicate_source_keys_raise(spark, store):
    from projectone_spark.store.dml import merge_into

    df = _orders(spark)
    store.overwrite(spark, df, "orders")
    dup = df.limit(1).unionByName(df.limit(1))   # same key twice
    with pytest.raises(Exception, match="matched multiple source rows"):
        merge_into(store, spark, "orders", dup, ["o_orderkey"])


def test_merge_into_prunes_files_outside_source_bounds(spark, store):
    from projectone_spark.store.dml import merge_into

    df = _orders(spark)
    store.overwrite(spark, df.repartitionByRange(4, "o_orderkey"), "orders",
                    stats_columns=["o_orderkey"])
    lo_keys = [r[0] for r in df.orderBy("o_orderkey").limit(2).collect()]
    src = (df.filter(F.col("o_orderkey").isin(lo_keys))
           .withColumn("o_orderpriority", F.lit("MERGED")))
    v = merge_into(store, spark, "orders", src, ["o_orderkey"])
    assert v == 1
    m = store.manifest("orders")
    assert m["metrics"]["files_linked"] >= 2      # high-range files untouched
    assert store.read(spark, "orders").filter(
        F.col("o_orderpriority") == "MERGED").count() == 2
    assert store.read(spark, "orders").count() == df.count()


def test_merge_into_insert_only_outside_all_files(spark, store):
    from projectone_spark.store.dml import merge_into

    df = _orders(spark)
    store.overwrite(spark, df, "orders", stats_columns=["o_orderkey"])
    newrows = (df.limit(2)
               .withColumn("o_orderkey", F.col("o_orderkey") + 10**9))
    v = merge_into(store, spark, "orders", newrows, ["o_orderkey"])
    assert v is not None
    got = store.read(spark, "orders")
    assert got.count() == df.count() + 2
    # and an empty source is a complete no-op
    assert merge_into(store, spark, "orders", df.limit(0),
                      ["o_orderkey"]) is None


def test_change_feed_after_dml(spark, store):
    """DML commits diff only their recorded read/write file sets; the
    change feed still equals the full-snapshot difference."""
    from projectone_spark.store import read_changes
    from projectone_spark.store.dml import delete_where, update_where

    df = _orders(spark)
    store.overwrite(spark, df.repartitionByRange(4, "o_orderkey"), "orders",
                    stats_columns=["o_orderkey"])
    lo = int(df.agg(F.min("o_orderkey")).first()[0])
    delete_where(store, spark, "orders", [("o_orderkey", "==", lo)])   # v1
    update_where(store, spark, "orders", [("o_orderkey", "==", lo + 1)],
                 {"o_orderpriority": "'X'"})                           # v2
    ch1 = read_changes(store, spark, "orders", 1, 1)
    assert ch1.count() == 1
    r = ch1.first()
    assert (r["_change_type"], r["o_orderkey"]) == ("delete", lo)
    ch2 = read_changes(store, spark, "orders", 2, 2)
    got = sorted((r["_change_type"], r["o_orderkey"], r["o_orderpriority"])
                 for r in ch2.collect())
    assert [t for t, *_ in got] == ["delete", "insert"]
    assert got[0][1] == got[1][1] == lo + 1
    assert got[1][2] == "X"
    # the v1 manifest proves only a subset of files was diffed
    m1 = [m for m in store.history("orders") if m["version"] == 1][0]
    n_old = sum(len(v) for v in m1["metrics"]["changed_old"].values())
    assert n_old < 4


def test_merge_into_schema_evolution(spark, store):
    from projectone_spark.store.dml import merge_into

    df = _orders(spark)
    store.overwrite(spark, df.repartition(3), "orders",
                    stats_columns=["o_orderkey"])
    keys = [r[0] for r in df.select("o_orderkey").limit(5).collect()]
    src = (df.filter(F.col("o_orderkey").isin(keys))
           .select("o_orderkey")
           .withColumn("channel", F.lit("web")))
    with pytest.raises(ValueError, match="schema_evolution"):
        merge_into(store, spark, "orders", src, ["o_orderkey"])
    v = merge_into(store, spark, "orders", src, ["o_orderkey"],
                   schema_evolution=True)
    assert v == 1
    got = store.read(spark, "orders")
    assert "channel" in got.columns
    assert got.count() == df.count()
    assert got.filter(F.col("channel") == "web").count() == 5
    assert got.filter(F.col("channel").isNull()).count() == df.count() - 5
    # the snapshot is schema-uniform: no linked files with the old schema
    assert store.manifest("orders")["metrics"]["files_linked"] == 0


def test_delete_records_readback_schema(spark, store):
    """A rewrite of an unpartitioned table records its new directory's
    read-back schema, so later reads of the DML'd table skip inference."""
    df = _orders(spark)
    store.overwrite(spark, df.repartitionByRange(4, "o_orderkey"), "orders",
                    stats_columns=["o_orderkey"])
    lo = int(df.agg(F.min("o_orderkey")).first()[0])
    delete_where(store, spark, "orders", [("o_orderkey", "==", lo)])
    m = store.manifest("orders")
    assert m["metrics"]["files_linked"] >= 1
    assert set(m["schemas"]) == set(m["dirs"])
    assert store.read(spark, "orders").count() == df.count() - 1


def test_delete_keeps_rows_whose_predicate_is_null(spark, store):
    """SQL DELETE semantics: a NULL predicate does not match."""
    rows = [(1, 10), (2, None), (3, 30)]
    store.overwrite(spark, spark.createDataFrame(rows, "id long, v long"), "t")
    delete_where(store, spark, "t", [("v", ">", 20)])
    assert sorted(r["id"] for r in store.read(spark, "t").collect()) == [1, 2]


@pytest.mark.parametrize("col", ["order date", "select", "a.b"])
def test_dml_and_selective_overwrite_quote_column_names(spark, store, col):
    """Predicate, SET and merge SQL quote identifiers: a column named with
    a space, a dot or a reserved word stays one column reference, as a
    partition column, an updated column, a merge key or a merged value."""
    from projectone_spark.store.dml import merge_into

    schema = f"id long, `{col}` string"
    store.overwrite(spark, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], schema), "t",
        partition_by=[col], stats_columns=["id"])
    delete_where(store, spark, "t", [(col, "==", "a")])
    store.selective_overwrite(
        spark, spark.createDataFrame([(9, "b")], schema), "t",
        partition_values={col: ["b"]})
    got = sorted((r["id"], r[col]) for r in store.read(spark, "t").collect())
    assert got == [(3, "c"), (9, "b")]
    update_where(store, spark, "t", [("id", "==", 9)], {col: "'g'"})
    merge_into(store, spark, "t",
               spark.createDataFrame([(3, "d"), (4, "e")], schema), ["id"])
    merge_into(store, spark, "t",
               spark.createDataFrame([(8, "g"), (7, "f")], schema), [col])
    got = sorted((r["id"], r[col]) for r in store.read(spark, "t").collect())
    assert got == [(3, "d"), (4, "e"), (7, "f"), (8, "g")]


def test_merge_into_inserts_source_whose_keys_are_all_null(spark, store):
    """A source whose only key is NULL is not an empty source: its row
    inserts (no target key matches it), and a NULL key bounds no file."""
    from projectone_spark.store.dml import merge_into

    schema = "id long, v long"
    store.overwrite(spark, spark.createDataFrame([(1, 10), (2, 20)], schema),
                    "t", stats_columns=["id"])
    v = merge_into(store, spark, "t",
                   spark.createDataFrame([(None, 5)], schema), ["id"])
    assert v == 1
    got = sorted(map(tuple, store.read(spark, "t").collect()), key=repr)
    assert got == sorted([(1, 10), (2, 20), (None, 5)], key=repr)
    # a NULL key matches the stored NULL key (NULL-safe) even when the
    # source's other keys bound away every file holding it
    merge_into(store, spark, "t",
               spark.createDataFrame([(None, 6), (50, 7)], schema), ["id"])
    got = sorted(map(tuple, store.read(spark, "t").collect()), key=repr)
    assert got == sorted([(1, 10), (2, 20), (None, 6), (50, 7)], key=repr)



@pytest.mark.parametrize("op", ["update_where", "merge_into", "write_scd1"])
def test_rewrite_keeps_column_types(spark, store, op):
    """A rewrite links the files it does not touch in their stored types,
    so a value of another type is cast to the column's type (store
    assignment) and the table still reads. A value that does not fit the
    column raises and commits nothing."""
    from projectone_spark.store.dml import merge_into
    from projectone_spark.writers import write_scd1

    base = spark.range(40).selectExpr("id", "id * 2 AS v", "id % 4 AS p")
    if op == "write_scd1":  # partition pruning rewrites partition p=0
        write_scd1(spark, store, base, "t", key_cols=["id"],
                   partition_by=["p"])
        changed = {i for i in range(40) if i % 4 == 0}
    else:  # stats pruning rewrites the file holding id < 5
        store.overwrite(spark, base.drop("p").repartitionByRange(4, "id"),
                        "t", stats_columns=["id"])
        changed = set(range(5))
    types = store.read(spark, "t").dtypes

    def assign(value: str):
        """Set ``v`` to the SQL ``value`` over the old ``v`` on the
        changed rows."""
        if op == "update_where":
            return update_where(store, spark, "t", [("id", "<", 5)],
                                {"v": value})
        src = (base.filter(F.col("id").isin(*changed))
               .selectExpr("id", f"{value} AS v", "p"))
        if op == "merge_into":
            return merge_into(store, spark, "t", src.drop("p"), ["id"])
        return write_scd1(spark, store, src, "t", key_cols=["id"],
                          partition_prune=True)

    v0 = store.version("t")
    assert assign("v * 1.5") == v0 + 1  # a DECIMAL value
    assert store.manifest("t")["metrics"]["files_linked"] > 0
    got = store.read(spark, "t")
    assert got.dtypes == types
    assert {r["id"]: r["v"] for r in got.collect()} == {
        i: 3 * i if i in changed else 2 * i for i in range(40)}
    with pytest.raises(Exception, match="does not fit column `v` BIGINT"):
        assign("v + 1e31")  # a DOUBLE out of BIGINT's range
    assert store.version("t") == v0 + 1
