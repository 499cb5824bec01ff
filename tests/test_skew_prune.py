"""Salted skew helpers + partition-pruned SCD1 merge tests."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from projectone_spark.functions.skew import salted_agg, salted_join, with_salt
from projectone_spark.store import TableStore
from projectone_spark.writers import write_append, write_overwrite, write_scd1

SCHEMA = "id long, grp string, v long"


def test_salted_agg_matches_plain(spark):
    rows = [(i, "hot" if i % 10 else "cold", i) for i in range(200)]
    df = spark.createDataFrame(rows, SCHEMA)
    plain = {(r["grp"]): (r["s"], r["c"]) for r in
             df.groupBy("grp").agg(F.sum("v").alias("s"),
                                   F.count(F.lit(1)).alias("c")).collect()}
    salted = salted_agg(
        df, ["grp"], 8,
        partial=[F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")],
        final=lambda g: g.agg(F.sum("s").alias("s"), F.sum("c").alias("c")))
    got = {(r["grp"]): (r["s"], r["c"]) for r in salted.collect()}
    assert got == plain


def test_with_salt_spreads_hot_key(spark):
    df = spark.createDataFrame([(1, "hot", i) for i in range(100)], SCHEMA)
    n_salts = with_salt(df, 8).select("__salt").distinct().count()
    assert n_salts > 1  # one hot key fans out across salts


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame(
        [(i, "k1" if i % 3 else "k2", i) for i in range(60)], SCHEMA)
    small = spark.createDataFrame([("k1", 10), ("k2", 20)], "grp string, w long")
    plain = sorted(tuple(r) for r in
                   big.join(small, ["grp"]).select("id", "w").collect())
    salted = sorted(tuple(r) for r in
                    salted_join(big, small, ["grp"], 4)
                    .select("id", "w").collect())
    assert salted == plain


def test_scd1_partition_prune_relinks_untouched(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    base = spark.createDataFrame(
        [(1, "p1", 10), (2, "p1", 20), (3, "p2", 30), (4, "p2", 40)], SCHEMA)
    write_overwrite(spark, store, base.drop("__x") if "__x" in base.columns else base,
                    "t", partition_by=["grp"])
    # source touches only partition p1
    src = spark.createDataFrame([(2, "p1", 99), (5, "p1", 50)], SCHEMA)
    v = write_scd1(spark, store, src, "t", key_cols=["id"],
                   partition_prune=True)

    got = store.read(spark, "t")
    assert sorted((r["id"], r["v"]) for r in got.collect()) == \
        [(1, 10), (2, 99), (3, 30), (4, 40), (5, 50)]
    m = store.manifest("t")
    assert m["operation"] == "scd1"
    assert m["metrics"]["replaced_partitions"] == ["grp=p1"]
    # p2's data files were re-linked, not rewritten: same inode content
    # (hard link count > 1 on at least one old parquet file)
    linked = []
    for dirpath, _, files in os.walk(os.path.join(store.root, "t")):
        for fn in files:
            if fn.endswith(".parquet") and "grp=p2" in dirpath:
                linked.append(os.stat(os.path.join(dirpath, fn)).st_nlink)
    assert linked and max(linked) > 1


def test_approx_sketches_accuracy(spark):
    """a01 asserts its own sketch bounds in-query (round 6); here we
    verify the exact columns it emits match a direct computation and the
    constant sketch_within_bound flag survived the in-query gates."""
    from projectone_spark.queries import REGISTRY, queries

    queries()
    df = REGISTRY["a01_approx_sketches"].fn(spark, "/root/testdata/sf0.001")
    got = {r["event_type"]: r for r in df.collect()}
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {r["event_type"]: r for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n"),
                  F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
                  .alias("m")).collect()}
    assert set(got) == set(exact)
    for et, ex in exact.items():
        assert got[et]["n_users_exact"] == ex["n"]
        assert got[et]["median_value"] == ex["m"]
        assert got[et]["sketch_within_bound"] is True


def test_blocked_lsh_pairs_identical_to_plain(spark):
    """Triangle-block decomposition changes the physical distribution of
    within-bucket pair generation, never the pair set."""
    from projectone_spark.functions.dedup import lsh_candidate_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain = lsh_candidate_pairs(docs)
    for n in (2, 8):
        blocked = lsh_candidate_pairs(docs, blocks=n)
        assert sorted(map(tuple, blocked.collect())) \
            == sorted(map(tuple, plain.collect()))

def test_partition_prune_cap_override(spark, tmp_path):
    """max_partition_values raises the per-call prune cap so legitimately
    wide backfills keep pruning instead of erroring out."""
    import pytest

    store = TableStore(str(tmp_path / "store"))
    base = spark.createDataFrame(
        [(i, f"p{i}", i * 10) for i in range(6)], SCHEMA)
    write_overwrite(spark, store, base, "t", partition_by=["grp"])
    src = spark.createDataFrame(
        [(i, f"p{i}", i * 100) for i in range(4)], SCHEMA)
    with pytest.raises(ValueError, match="more than 2 distinct"):
        write_scd1(spark, store, src, "t", key_cols=["id"],
                   partition_prune=True, max_partition_values=2)
    v = write_scd1(spark, store, src, "t", key_cols=["id"],
                   partition_prune=True, max_partition_values=4)
    assert v > 0
    got = sorted((r["id"], r["v"]) for r in store.read(spark, "t").collect())
    assert got == [(0, 0), (1, 100), (2, 200), (3, 300), (4, 40), (5, 50)]


def test_partition_prune_rejects_null_partition_values(spark, tmp_path):
    """NULL source partition values must fail loudly: isin() pruning would
    silently exclude null-partition target rows and the store has no null
    directory spelling."""
    import pytest

    store = TableStore(str(tmp_path / "store"))
    base = spark.createDataFrame([(1, "p1", 10), (2, "p2", 20)], SCHEMA)
    write_overwrite(spark, store, base, "t", partition_by=["grp"])
    src = spark.createDataFrame([(2, None, 99)], SCHEMA)
    with pytest.raises(ValueError, match="NULL values in partition column"):
        write_scd1(spark, store, src, "t", key_cols=["id"],
                   partition_prune=True)


def test_scd1_partition_prune_keeps_untouched_rows_of_every_dir(spark,
                                                                tmp_path):
    """An append adds a second data directory; the pruned merge must keep
    the untouched partition's rows from both directories."""
    store = TableStore(str(tmp_path / "store"))
    write_overwrite(spark, store, spark.createDataFrame(
        [(1, "p1", 10), (3, "p2", 30)], SCHEMA), "t", partition_by=["grp"])
    write_append(spark, store, spark.createDataFrame(
        [(4, "p2", 40)], SCHEMA), "t")
    src = spark.createDataFrame([(1, "p1", 11), (5, "p1", 50)], SCHEMA)
    write_scd1(spark, store, src, "t", key_cols=["id"], partition_prune=True)
    got = sorted((r["id"], r["grp"], r["v"])
                 for r in store.read(spark, "t").collect())
    assert got == [(1, "p1", 11), (3, "p2", 30), (4, "p2", 40),
                   (5, "p1", 50)]
    assert store.manifest("t")["metrics"]["replaced_partitions"] == ["grp=p1"]
