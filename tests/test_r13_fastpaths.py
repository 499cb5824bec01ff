"""Round-13 optimization fast paths.

Every entry pins an r13 optimization's bit-identity contract:

- the store's DERIVED read-back schema (zero-job replacement for the
  write-time inference pass) must be byte-identical to what inference
  returns, across the full supported type matrix, and must FALL BACK
  to real inference for anything outside the proven-safe set;
- the spread() + plain-explode reshaping of the tokenizer and dedup
  corpus pipelines (tokenize parallel, one exchange) must keep row
  sets identical on the degenerate inputs the old shapes gated
  (empty/punctuation-only/NULL texts, empty token arrays).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T


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


@pytest.fixture()
def degenerate_docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat"), (2, ""), (3, "!!! ???"), (4, None),
         (5, "cat cat the")],
        "doc_id bigint, text string")


def test_winnow_gate_matches_normalize_emptiness(spark, degenerate_docs):
    """The rlike empty-doc gate must admit exactly the docs whose
    normalize() is nonempty (the old length(__norm) > 0 gate)."""
    from projectone_spark.functions.dedup import winnow_fingerprints
    from projectone_spark.functions.text import normalize

    fp = winnow_fingerprints(degenerate_docs)
    kept_ids = {r["doc_id"] for r in fp.select("doc_id").distinct().collect()}
    expect = {r["doc_id"] for r in degenerate_docs
              .filter(F.length(normalize("text")) > 0).collect()}
    assert kept_ids == expect == {1, 5}


def test_bpe_doc_word_counts_degenerate_rows(spark, degenerate_docs):
    """The spread + plain-explode shape must drop empty/NULL/
    punctuation-only docs (no tokens, so no exploded rows)."""
    from projectone_spark.functions.text import bpe_doc_word_counts

    wf = bpe_doc_word_counts(degenerate_docs)
    rows = {(r["doc_id"], r["__w"]): r["__c"] for r in wf.collect()}
    assert rows == {(1, "the"): 1, (1, "cat"): 1, (1, "sat"): 1,
                    (5, "cat"): 2, (5, "the"): 1}


def test_surprisal_folds_degenerate_rows(spark, degenerate_docs):
    """uni/bigram surprisal over degenerate docs: only docs with >= 1
    token (unigram) / >= 2 tokens (bigram) emit rows, and the scores
    fold the same integers as before the spread reshaping."""
    from projectone_spark.functions.text import (
        bigram_surprise,
        unigram_surprise,
    )

    uni = {r["doc_id"]: (r["n_tokens"], r["surprise_micro"])
           for r in unigram_surprise(degenerate_docs).collect()}
    assert set(uni) == {1, 5}
    assert uni[1][0] == 3 and uni[5][0] == 3
    # corpus: the=2, cat=3, sat=1, N=6 -> micro = 1e6*6 div c
    assert uni[1][1] == (6_000_000 // 2) + (6_000_000 // 3) + 6_000_000
    bi = {r["doc_id"]: (r["n_bigrams"], r["surprise_micro"])
          for r in bigram_surprise(degenerate_docs).collect()}
    assert set(bi) == {1, 5}
    assert bi[1][0] == 2 and bi[5][0] == 2


def test_spread_by_key_partitioning_reused(spark):
    """spread(by=id) must plan the downstream (id, w) aggregate with ONE
    exchange — the partitioning-reuse contract the r13 tokenizer shape
    relies on."""
    from projectone_spark.functions.text import spread, tokens

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id bigint, text string")
    agg = (spread(docs.select("doc_id", "text"), by="doc_id")
           .select(F.col("doc_id"),
                   F.explode(tokens("text")).alias("__w"))
           .filter(F.col("__w") != "")
           .groupBy("doc_id", "__w").count())
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # the plain-explode precondition: the inline tokens() chain must not
    # draw an inferred size() filter that pushdown drags below the
    # exchange (it would re-derive the tokenize in the serial map task).
    # Everything printed after the Exchange line is the exchange's INPUT
    # subtree in explain output — no tokenize chain may appear there.
    below_exchange = plan.split("Exchange")[-1]
    assert "regexp_replace" not in below_exchange, plan
