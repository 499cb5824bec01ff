"""Engine-operator queries: the SCD1/2/3 merge semantics and the CDC
bound-resolution expressed as deterministic, oracle-checkable queries on
`orders`/`lineitem`.

Setup mirrors the reference's two-batch integration tests
(``tests/integration_tests/test_batch.py``): batch 1 = the full orders
snapshot; batch 2 = orders from 1997 onward with a simulated price change
(+10%). Validity timestamps are literals ('2024-01-01' / '2024-02-01') so
results are reproducible — the event-time path the reference calls
``history_tracking_col``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from projectone_spark.queries import load, register
from projectone_spark.writers.merge import scd1_merge, scd2_apply, scd3_apply
from projectone_spark.session import scratch_dir

_CUT = "1997-01-01"
_T0 = "2024-01-01"
_T1 = "2024-02-01"
_SENTINEL = "9999-12-31 00:00:00"


def _ts(lit: str) -> F.Column:
    return F.lit(lit).cast("timestamp")


_S01_SQL = f"""
WITH source AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_CUT}')
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total_price,
       CAST(o_orderdate AS DATE) AS order_date
FROM (SELECT * FROM source
      UNION ALL
      SELECT * FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = o.o_orderkey))
"""


@register("s01_scd1_upsert", _S01_SQL,
          doc="SCD1 upsert snapshot: changed keys take source values, others kept",
          tags=("scd", "merge"))
def s01_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    source = (orders.filter(F.col("o_orderdate") >= _ts(_CUT))
              .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0))
    merged = scd1_merge(source, orders, ["o_orderkey"], now=_ts(_T0))
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("o_orderdate").cast("date").alias("order_date"))


_S02_SQL = f"""
WITH base AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderdate FROM orders),
changed AS (SELECT o_orderkey FROM base WHERE o_orderdate >= TIMESTAMP '{_CUT}')
SELECT o_orderkey, price, 'N' AS active,
       CAST(CAST(TIMESTAMP '{_T0}' AS DATE) AS VARCHAR) AS valid_from,
       CAST(CAST(TIMESTAMP '{_T1}' AS DATE) AS VARCHAR) AS valid_to
FROM base WHERE o_orderkey IN (SELECT o_orderkey FROM changed)
UNION ALL
SELECT o_orderkey, price + 1000.0 AS price, 'Y' AS active,
       CAST(CAST(TIMESTAMP '{_T1}' AS DATE) AS VARCHAR) AS valid_from,
       CAST(CAST(TIMESTAMP '{_SENTINEL}' AS DATE) AS VARCHAR) AS valid_to
FROM base WHERE o_orderkey IN (SELECT o_orderkey FROM changed)
UNION ALL
SELECT o_orderkey, price, 'Y' AS active,
       CAST(CAST(TIMESTAMP '{_T0}' AS DATE) AS VARCHAR) AS valid_from,
       CAST(CAST(TIMESTAMP '{_SENTINEL}' AS DATE) AS VARCHAR) AS valid_to
FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changed)
"""


@register("s02_scd2_history", _S02_SQL,
          doc="SCD2 two-batch history: closed old rows + active new versions",
          tags=("scd", "merge", "history"))
def s02_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    t0 = scd2_apply(base, None, ["o_orderkey"], valid_from=_ts(_T0))
    batch2 = (orders.filter(F.col("o_orderdate") >= _ts(_CUT))
              .select("o_orderkey",
                      (F.round(F.col("o_totalprice"), 2) + 1000.0).alias("price")))
    t1 = scd2_apply(batch2, t0, ["o_orderkey"], valid_from=_ts(_T1))
    # The engine keeps the reference's 9999-12-31 timestamp sentinel
    # internally, but that overflows pyarrow's ns-precision timestamps in
    # toPandas(); the *query output* surfaces validity as 'yyyy-MM-dd'
    # strings, which are pandas-safe at any year.
    return t1.select("o_orderkey", "price",
                     F.col("__metadata_active__").alias("active"),
                     F.col("__metadata_valid_from_ts__").cast("date").cast("string").alias("valid_from"),
                     F.col("__metadata_valid_to_ts__").cast("date").cast("string").alias("valid_to"))


_S03_SQL = f"""
WITH base AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderdate FROM orders)
SELECT o_orderkey, price + 1000.0 AS price, price AS prev_price
FROM base WHERE o_orderdate >= TIMESTAMP '{_CUT}'
UNION ALL
SELECT o_orderkey, price, CAST(NULL AS DOUBLE) AS prev_price
FROM base WHERE o_orderdate < TIMESTAMP '{_CUT}'
"""


@register("s03_scd3_prev_columns", _S03_SQL,
          doc="SCD3: current snapshot with prev_<col> populated on change",
          tags=("scd", "merge"))
def s03_scd3_prev_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    t0 = scd3_apply(base, None, ["o_orderkey"], ["price"], now=_ts(_T0))
    batch2 = (orders.filter(F.col("o_orderdate") >= _ts(_CUT))
              .select("o_orderkey",
                      (F.round(F.col("o_totalprice"), 2) + 1000.0).alias("price")))
    t1 = scd3_apply(batch2, t0, ["o_orderkey"], ["price"], now=_ts(_T1))
    return t1.select("o_orderkey", "price", "prev_price")


_S04_SQL = """
SELECT min(l_shipdate) AS first_start,
       max(l_shipdate) AS first_end,
       max(CASE WHEN l_shipdate > TIMESTAMP '1998-01-01' THEN l_shipdate END) AS incr_next,
       CAST(sum(CASE WHEN l_shipdate > TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT)
         AS incr_rows
FROM lineitem
"""


@register("s04_cdc_bounds", _S04_SQL,
          doc="attribute-CDC bound resolution: first-run min/max + incremental next/rowcount",
          tags=("cdc",))
def s04_cdc_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    prev = _ts("1998-01-01")
    gt = F.col("l_shipdate") > prev
    return li.agg(
        F.min("l_shipdate").alias("first_start"),
        F.max("l_shipdate").alias("first_end"),
        F.max(F.when(gt, F.col("l_shipdate"))).alias("incr_next"),
        F.sum(F.when(gt, 1).otherwise(0)).cast("bigint").alias("incr_rows"))


@register("s05_scd1_xxhash64", _S01_SQL,  # identical output to s01 by design
          doc="SCD1 upsert on the xxhash64 fast path: 8-byte long shuffle "
              "keys instead of 32-char md5 hex (same output, ~4x less "
              "shuffle bytes per key)",
          tags=("scd", "merge", "perf"))
def s05_scd1_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    source = (orders.filter(F.col("o_orderdate") >= _ts(_CUT))
              .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0))
    merged = scd1_merge(source, orders, ["o_orderkey"], now=_ts(_T0),
                        algo="xxhash64")
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("o_orderdate").cast("date").alias("order_date"))


# -- data skipping -----------------------------------------------------------

_SKIP_STORES: dict[str, object] = {}


def _skipping_store(spark: SparkSession, sf_dir: str):
    """Materialize orders into a TableStore clustered on o_orderdate, once
    per (session, sf_dir). The write + Z-order cost is part of what s06
    benchmarks: layout work is what buys the pruned read."""

    from projectone_spark.store import TableStore
    from projectone_spark.store.maintenance import zorder_cluster

    st = _SKIP_STORES.get(sf_dir)
    if st is None:
        st = TableStore(scratch_dir(prefix="pos-skip-"))
        orders = load(spark, sf_dir, "orders")
        st.overwrite(spark, orders.repartition(8), "orders",
                     stats_columns=["o_orderdate"])
        zorder_cluster(st, spark, "orders", ["o_orderdate"],
                       target_files=8)
        _SKIP_STORES[sf_dir] = st
    return st


_S06_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       CAST(o_orderdate AS DATE) AS order_date
FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'
"""


@register("s06_skipping_read", _S06_SQL,
          doc="file-level data skipping: store commit records per-file "
              "min/max from parquet footers (Delta add-action stats "
              "analogue), OPTIMIZE-style date clustering, then a pruned "
              "read that hands Spark only files overlapping the predicate",
          tags=("store", "skipping", "perf"))
def s06_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projectone_spark.store.skipping import read_where

    st = _skipping_store(spark, sf_dir)
    df = read_where(st, spark, "orders", [("o_orderdate", ">=", "1997-06-01")])
    return df.select(
        "o_orderkey", "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("o_orderdate").cast("date").alias("order_date"))


# -- incremental aggregate maintenance ---------------------------------------

_S07_SQL = """
SELECT o_custkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS sum_price,
       count(*) AS n_rows
FROM orders GROUP BY o_custkey
"""


@register("s07_incremental_agg", _S07_SQL,
          doc="incremental aggregate maintenance: batch-1 full materialize, "
              "then fold ONLY the change feed of an append commit into the "
              "maintained per-customer aggregate (exact decimal sums, so "
              "fold order never shifts the result); equals a full recompute "
              "by construction",
          tags=("store", "cdf", "incremental", "perf"))
def s07_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:

    from projectone_spark.functions.incremental import agg_view, refresh_agg
    from projectone_spark.store import TableStore
    from projectone_spark.store.state import StateStore

    orders = load(spark, sf_dir, "orders")
    root = scratch_dir(prefix="pos-incr-")
    st = TableStore(root)
    state = StateStore(root + "_state")
    st.overwrite(spark, orders.filter(F.col("o_orderdate") < _ts(_CUT)),
                 "orders")
    refresh_agg(st, spark, "orders", "orders_agg",
                ["o_custkey"], ["o_totalprice"], state)
    st.append(spark, orders.filter(F.col("o_orderdate") >= _ts(_CUT)),
              "orders")
    refresh_agg(st, spark, "orders", "orders_agg",
                ["o_custkey"], ["o_totalprice"], state)
    return (agg_view(st, spark, "orders_agg")
            .select("o_custkey",
                    F.round("sum_o_totalprice", 2).cast("double")
                    .alias("sum_price"),
                    F.col("n_rows")))


# -- bucketed co-located join ------------------------------------------------

_BUCKET_STORES: dict[str, object] = {}


_S08_SQL = """
SELECT c.c_custkey,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
"""


@register("s08_bucketed_join", _S08_SQL,
          doc="co-bucketed join + aggregation on the bucket key: both "
              "tables written bucketed on the customer key, so the join "
              "AND the groupBy plan with zero Exchange (layout decided at "
              "write time, reused by every later query)",
          tags=("store", "bucketing", "join", "perf"))
def s08_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:

    from projectone_spark.store import TableStore
    from projectone_spark.store.bucketing import read_bucketed, write_bucketed

    st = _BUCKET_STORES.get(sf_dir)
    if st is None:
        st = TableStore(scratch_dir(prefix="pos-bkt-"))
        write_bucketed(st, spark, load(spark, sf_dir, "orders"),
                       "orders", ["o_custkey"], 8, sort_by=["o_custkey"])
        write_bucketed(st, spark, load(spark, sf_dir, "customer"),
                       "customer", ["c_custkey"], 8, sort_by=["c_custkey"])
        _BUCKET_STORES[sf_dir] = st
    o = read_bucketed(st, spark, "orders")
    c = read_bucketed(st, spark, "customer")
    return (c.join(o, c.c_custkey == o.o_custkey)
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
                 .cast("double").alias("revenue")))


# -- row-level DML (copy-on-write DELETE / UPDATE) ---------------------------

_S09_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(price AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue
FROM (
  SELECT o_orderstatus,
         CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.9
              ELSE o_totalprice END AS price
  FROM orders
  WHERE NOT (o_orderdate < TIMESTAMP '1996-01-01')
)
GROUP BY o_orderstatus
"""


@register("s09_dml_delete_update", _S09_SQL,
          doc="row-level DML round-trip: DELETE (pre-1996 orders) then "
              "UPDATE (10% discount on 'F' rows) as copy-on-write commits "
              "— file stats prune provably-untouched files into hard links "
              "and only candidates are rewritten — then aggregate the "
              "surviving snapshot; oracle applies the same delete filter + "
              "update CASE inline",
          tags=("store", "dml", "write"))
def s09_dml_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:

    from projectone_spark.store import TableStore
    from projectone_spark.store.dml import delete_where, update_where

    st = TableStore(scratch_dir(prefix="pos-dml-"))
    orders = load(spark, sf_dir, "orders")
    st.overwrite(spark, orders.repartitionByRange(8, "o_orderdate"),
                 "orders", stats_columns=["o_orderdate"])
    delete_where(st, spark, "orders", [("o_orderdate", "<", "1996-01-01")])
    update_where(st, spark, "orders", [("o_orderstatus", "==", "F")],
                 {"o_totalprice": "o_totalprice * 0.9"})
    return (st.read(spark, "orders")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
                 .cast("double").alias("revenue")))


# -- general MERGE INTO ------------------------------------------------------

_S10_SQL = """
WITH src AS (
  SELECT o_orderkey, o_totalprice * 0.5 AS new_price
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'),
merged AS (
  SELECT o.o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
              ELSE o.o_totalprice END AS price,
         (s.o_orderkey IS NOT NULL AND s.new_price < 50000) AS deleted
  FROM orders o LEFT JOIN src s USING (o_orderkey))
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(price AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM merged WHERE NOT deleted
GROUP BY o_orderstatus
"""


@register("s10_merge_into", _S10_SQL,
          doc="general MERGE INTO (Delta DeltaTable.merge surface): halve "
              "the price of recent orders, delete matched rows that fall "
              "under 50k, via one full-outer merge with source-bounds file "
              "pruning; oracle emulates the merge with a LEFT JOIN + CASE "
              "(0.5x is FP-exact, so both engines agree bit-for-bit)",
          tags=("store", "dml", "merge", "write"))
def s10_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:

    from projectone_spark.store import TableStore
    from projectone_spark.store.dml import merge_into

    st = TableStore(scratch_dir(prefix="pos-mrg-"))
    orders = load(spark, sf_dir, "orders")
    st.overwrite(spark, orders.repartitionByRange(8, "o_orderkey"),
                 "orders", stats_columns=["o_orderkey"])
    src = (orders.filter(F.col("o_orderdate") >= _ts("1997-06-01"))
           .select("o_orderkey",
                   (F.col("o_totalprice") * 0.5).alias("o_totalprice")))
    merge_into(st, spark, "orders", src, ["o_orderkey"],
               when_matched_update={"o_totalprice": "source.o_totalprice"},
               when_matched_delete="source.o_totalprice < 50000",
               when_not_matched_insert=False)
    return (st.read(spark, "orders")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
                 .cast("double").alias("revenue")))
