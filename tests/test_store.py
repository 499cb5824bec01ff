"""The TableStore's read-back schemas (``projectone_spark/store``).

Every data directory's read-back schema is recorded in the manifest at
write time, so reads plan without schema inference. These tests pin that
the recorded schema is exactly what inference returns:

- captured schemas against schema-inference reads (plain, partitioned,
  multi-commit, time travel, restore/clone carry-forward, and the
  selective-overwrite re-link that records one only when uniformity is
  provable);
- the DERIVED read-back schema (the zero-job replacement for the
  write-time inference pass) byte-identical to inference across the full
  supported type matrix, FALLING BACK to real inference for anything
  outside the proven-safe set.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import types as T


def _mk_store(tmp_path):
    from projectone_spark.store import TableStore

    return TableStore(str(tmp_path / "store"))


def test_schema_capture_plain_append_read(spark, tmp_path):
    st = _mk_store(tmp_path)
    df = spark.createDataFrame(
        [(1, 1.5, "a"), (2, float("nan"), None)], "k long, x double, s string")
    st.append(spark, df, "t")
    st.append(spark, df, "t")
    m = st.manifest("t")
    assert set(m.get("schemas", {})) == set(m["dirs"])
    got = st.read(spark, "t")
    # the recorded-schema read must match a from-scratch inference read
    want = spark.read.parquet(*m["dirs"])
    assert got.schema == want.schema
    assert got.count() == 4
    assert sorted(map(tuple, got.select("k", "s").collect())) \
        == sorted(map(tuple, want.select("k", "s").collect()))


def test_schema_capture_partitioned_multicommit(spark, tmp_path):
    st = _mk_store(tmp_path)
    df = spark.createDataFrame(
        [(1, "p0", 2.0), (2, "p1", 3.0)], "k long, part string, x double")
    st.append(spark, df, "t", partition_by=["part"])
    st.append(spark, df.withColumn("k", F.col("k") + 10), "t",
              partition_by=["part"])
    m = st.manifest("t")
    assert set(m.get("schemas", {})) == set(m["dirs"])
    got = st.read(spark, "t")
    want0 = spark.read.option("basePath", m["dirs"][0]).parquet(m["dirs"][0])
    # partition-column type must match partition-value INFERENCE
    assert got.schema["part"].dataType == want0.schema["part"].dataType
    assert got.filter("part = 'p1'").count() == 2
    assert {r["k"] for r in got.collect()} == {1, 2, 11, 12}


def test_schema_capture_survives_restore_and_clone(spark, tmp_path):
    from projectone_spark.store.maintenance import clone, restore

    st = _mk_store(tmp_path)
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    st.append(spark, df, "t")
    v0 = st.manifest("t")["version"]
    st.append(spark, df, "t")
    restore(st, "t", v0)
    m = st.manifest("t")
    assert set(m.get("schemas", {})) == set(m["dirs"])
    assert st.read(spark, "t").count() == 1
    clone(st, "t", "t2")
    m2 = st.manifest("t2")
    assert set(m2.get("schemas", {})) == set(m2["dirs"])
    assert st.read(spark, "t2").count() == 1


def test_schema_capture_time_travel(spark, tmp_path):
    st = _mk_store(tmp_path)
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    st.append(spark, df, "t")
    v0 = st.manifest("t")["version"]
    st.append(spark, df.withColumn("k", F.lit(9).cast("long")), "t")
    old = st.read_version(spark, "t", v0)
    assert old.count() == 1 and old.first()["k"] == 1


def test_selective_overwrite_uniform_table_records_schema(spark, tmp_path):
    st = _mk_store(tmp_path)
    df = spark.createDataFrame(
        [(1, "p0", 1.0), (2, "p1", 2.0)], "k long, part string, x double")
    st.append(spark, df, "t", partition_by=["part"])
    st.selective_overwrite(
        spark, df.filter("part = 'p0'").withColumn("x", F.col("x") + 10),
        "t", partition_values={"part": ["p0"]})
    m = st.manifest("t")
    # uniform table: the re-linked dir proves uniformity and records
    assert set(m.get("schemas", {})) == set(m["dirs"])
    got = {(r["k"], r["x"]) for r in st.read(spark, "t").collect()}
    assert got == {(1, 11.0), (2, 2.0)}


def test_selective_overwrite_evolved_table_skips_schema_record(spark, tmp_path):
    from projectone_spark.store.maintenance import append_evolve

    st = _mk_store(tmp_path)
    df = spark.createDataFrame(
        [(1, "p0"), (2, "p1")], "k long, part string")
    st.append(spark, df, "t", partition_by=["part"])
    append_evolve(st, spark,
                  spark.createDataFrame([(3, "p2", "z")],
                                        "k long, part string, s string"), "t")
    st.selective_overwrite(
        spark, spark.createDataFrame([(9, "p0", "w")],
                                     "k long, part string, s string"),
        "t", partition_values={"part": ["p0"]})
    m = st.manifest("t")
    # mixed-provenance dir on an evolved table: no schema recorded, so
    # the read keeps its true footer-merging semantics
    assert m["dirs"][-1] not in (m.get("schemas") or {})
    merged = st.read(spark, "t")
    assert "s" in merged.columns
    # p0 was replaced (k=1 out, k=9 in); p1/p2 survive the re-link
    assert {r["k"] for r in merged.collect()} == {2, 3, 9}


def _roundtrip(spark, df, tmpdir):
    from projectone_spark.store import _derived_readback_schema

    derived = _derived_readback_schema(df.schema)
    path = str(tmpdir)
    df.write.mode("overwrite").parquet(path)
    inferred = spark.read.parquet(path).schema.json()
    return derived, inferred


def test_derived_readback_schema_full_type_matrix(spark, tmp_path):
    df = spark.sql("""
      SELECT * FROM VALUES
        (CAST(2 AS TINYINT), CAST(3 AS SMALLINT), CAST(4 AS INT),
         CAST(5 AS BIGINT), CAST(6.5 AS FLOAT), CAST(7.5 AS DOUBLE),
         'x', CAST('ab' AS BINARY), true,
         DATE'2024-01-01', TIMESTAMP'2024-01-01 10:00:00',
         TIMESTAMP_NTZ'2024-01-01 10:00:00',
         CAST(1.25 AS DECIMAL(10,2)), array(1.5D, 2.5D),
         named_struct('a', 1L, 'b', array('s')), map('k', 1L))
      t(ty, sh, i, l, f, d, s, bin, bo, dt, ts, tsn, dec, arr, st, mp)""")
    derived, inferred = _roundtrip(spark, df, tmp_path)
    assert derived == inferred


def test_derived_readback_schema_forces_nullability(spark, tmp_path):
    """Non-nullable writer schemas (VALUES inline tables, explicit DDL)
    read back all-nullable from parquet; the derived schema must apply
    the same forcing recursively (array containsNull, map
    valueContainsNull, nested struct fields)."""
    schema = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("c", T.StructType(
            [T.StructField("x", T.StringType(), False)]), False),
        T.StructField("m", T.MapType(
            T.StringType(), T.ArrayType(T.LongType(), False), False), False),
    ])
    df = spark.createDataFrame([(1, [1.0], ("s",), {"k": [2]})], schema)
    derived, inferred = _roundtrip(spark, df, tmp_path)
    assert derived == inferred


def test_derived_readback_schema_zero_rows(spark, tmp_path):
    df = spark.createDataFrame([], "a bigint, b array<double>")
    derived, inferred = _roundtrip(spark, df, tmp_path)
    assert derived == inferred


def test_derived_readback_schema_falls_back_on_unprovable(spark):
    from projectone_spark.store import _derived_readback_schema

    # calendar intervals have no parquet read-back story at all
    iv = spark.sql("SELECT INTERVAL '1' YEAR AS y")
    assert _derived_readback_schema(iv.schema) is None
    # char/varchar ride field METADATA whose round-trip is not proven —
    # any non-empty metadata must route to real inference
    cv = T.StructType([T.StructField(
        "c", T.StringType(), True,
        metadata={"__CHAR_VARCHAR_TYPE_STRING": "char(4)"})])
    assert _derived_readback_schema(cv) is None


def test_store_write_records_derived_schema_and_reads_back(spark, tmp_path):
    """End-to-end: an unpartitioned store write records the derived
    schema in the manifest, and the recorded string equals what
    inference would have recorded (so reads plan identically)."""
    from projectone_spark.store import TableStore

    store = TableStore(str(tmp_path / "store"))
    df = spark.range(5).select(F.col("id").alias("k"),
                               (F.col("id") * 2.0).alias("v"))
    store.overwrite(spark, df, "t")
    m = store.manifest("t")
    [(d, recorded)] = list(m["schemas"].items())
    assert recorded == spark.read.parquet(d).schema.json()
    got = store.read(spark, "t")
    assert got.schema.json() == recorded
    assert got.count() == 5


def test_store_write_timestamp_ntz_without_ntz_inference(spark, tmp_path):
    """The recorded schema must equal inference under a non-default
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` too (it holds because
    the setting only steers files without Spark's embedded footer
    schema)."""
    from projectone_spark.store import TableStore

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        store = TableStore(str(tmp_path / "store"))
        df = spark.sql("SELECT 1 AS k, TIMESTAMP_NTZ'2024-01-01 10:00:00' AS ts")
        store.overwrite(spark, df, "t")
        [(d, recorded)] = list(store.manifest("t")["schemas"].items())
        assert recorded == spark.read.parquet(d).schema.json()
    finally:
        spark.conf.set(key, before)
