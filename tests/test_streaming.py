"""Streaming-layer tests: trigger contract, foreachBatch reuse of batch
writers across real micro-batches, and batch/stream equivalence of the
windowing helpers (reference stream suite shape,
``tests/integration_tests/test_stream.py``)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from projectone_spark.store import TableStore
from projectone_spark.streaming import (
    StreamTrigger,
    checkpoint_location,
    foreach_batch_writer,
    read_stream_parquet,
    run_to_memory,
    session_window_agg,
    stream_wait_close,
    tumbling_window_agg,
    write_stream,
)
from projectone_spark.writers.hashing import ACTIVE

SCHEMA = "id long, name string, offset long"


def test_trigger_kwargs():
    assert StreamTrigger().kwargs() == {"availableNow": True}
    assert StreamTrigger(once=True, available_now=False).kwargs() == {"once": True}
    assert (StreamTrigger(processing_time="5 seconds").kwargs()
            == {"processingTime": "5 seconds"})


def test_checkpoint_location_default():
    assert (checkpoint_location("/s", "out") == "/s/checkpoints/out")


def test_foreach_batch_scd2_across_micro_batches(spark, tmp_path):
    """Two source files streamed one-per-micro-batch through the SCD2
    writer must build the same history as two batch runs."""
    src = tmp_path / "src"
    b1 = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], SCHEMA) \
        .withColumn("event_ts", F.lit("2024-01-01").cast("timestamp"))
    b2 = spark.createDataFrame([(2, "b", 99), (3, "c", 30)], SCHEMA) \
        .withColumn("event_ts", F.lit("2024-02-01").cast("timestamp"))
    # one file per micro-batch, named so batch order follows event order
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    store = TableStore(str(tmp_path / "store"))
    stream = read_stream_parquet(
        spark, f"{src}/*/", SCHEMA + ", event_ts timestamp",
        max_files_per_trigger=1)
    q = write_stream(
        stream,
        checkpoint=str(tmp_path / "ckpt"),
        foreach_batch=foreach_batch_writer(
            spark, store, "t", "scd2",
            key_cols=["id"], valid_from="event_ts"))
    stream_wait_close([q], timeout_seconds=300)

    got = store.read(spark, "t")
    active = got.filter(F.col(ACTIVE) == "Y")
    assert sorted((r["id"], r["offset"]) for r in active.collect()) \
        == [(1, 10), (2, 99), (3, 30)]
    closed = got.filter(F.col(ACTIVE) == "N").collect()
    assert [(r["id"], r["offset"]) for r in closed] == [(2, 20)]


def test_tumbling_window_batch_stream_equivalence(spark, tmp_path):
    rows = [(i, f"2024-01-01 0{i % 3}:1{i}:00") for i in range(6)]
    df = spark.createDataFrame(rows, "id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    batch = tumbling_window_agg(df, "ts", "1 hour",
                                [F.count(F.lit(1)).alias("n")])
    src = str(tmp_path / "ev")
    df.write.parquet(src)
    stream = read_stream_parquet(spark, src, "id long, ts timestamp")
    streamed = run_to_memory(
        tumbling_window_agg(stream, "ts", "1 hour",
                            [F.count(F.lit(1)).alias("n")],
                            watermark="1 hour"),
        output_mode="complete")
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed.collect()))


def test_session_window_gap_semantics(spark):
    rows = [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:10:00"),
            ("u", "2024-01-01 01:00:00")]  # 50-min gap → 2 sessions
    df = spark.createDataFrame(rows, "user string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = session_window_agg(df, "ts", "30 minutes",
                             [F.count(F.lit(1)).alias("n")], keys=("user",))
    rows = sorted((r["session_start"].isoformat()[:16], r["n"])
                  for r in got.collect())
    assert rows == [("2024-01-01T00:00", 2), ("2024-01-01T01:00", 1)]


def test_apply_in_pandas_with_state_running_totals(spark, tmp_path):
    """Two micro-batches must accumulate per-key state across batches."""
    from projectone_spark.streaming.stateful import running_totals

    src = tmp_path / "src"
    b1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    b2 = spark.createDataFrame([(1, 5.0)], "k long, v double")
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = read_stream_parquet(spark, f"{src}/*/", "k long, v double",
                                 max_files_per_trigger=1)
    totals = running_totals(stream, "k", "v")
    q = (totals.writeStream.format("memory").queryName("state_q")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    stream_wait_close([q], timeout_seconds=300)
    got = spark.table("state_q")
    # update mode emits per batch; the LAST row per key carries final state
    final = {r["k"]: (r["n_events"], r["total"])
             for r in got.orderBy("n_events").collect()}
    assert final[1] == (2, 15.0)
    assert final[2] == (1, 20.0)


def test_stream_from_store_appends(spark, tmp_path):
    """The store is a streaming source: offsets are manifest versions, a
    restarted stream resumes from its checkpoint, appends stream in."""
    from projectone_spark.store import TableStore
    from projectone_spark.sources.store_stream import stream_from_store
    from projectone_spark.streaming import stream_wait_close

    store = TableStore(str(tmp_path / "store"))
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(30)
    store.overwrite(spark, df.limit(10), "orders")
    store.append(spark, df.limit(20).exceptAll(df.limit(10)), "orders")

    out = str(tmp_path / "out")

    def run():
        q = (stream_from_store(spark, store, "orders")
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        stream_wait_close([q], timeout_seconds=300)
        return spark.read.parquet(out)

    assert run().count() == 20
    # new append lands; restarting from the checkpoint picks up ONLY the delta
    store.append(spark, df.exceptAll(df.limit(20)), "orders")
    assert run().count() == 30
    got = sorted(r[0] for r in run().select("o_orderkey").collect())
    assert got == sorted(r[0] for r in df.select("o_orderkey").collect())


def test_stream_from_store_change_commit_contract(spark, tmp_path):
    """Delta contract: a data-changing commit fails the stream unless
    skipChangeCommits is set, in which case it is ignored."""
    import pyspark.sql.functions as F
    from projectone_spark.store import TableStore
    from projectone_spark.store.dml import delete_where
    from projectone_spark.sources.store_stream import stream_from_store
    from projectone_spark.streaming import stream_wait_close

    store = TableStore(str(tmp_path / "store"))
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(20)
    store.overwrite(spark, df, "orders")
    lo = df.agg(F.min("o_orderkey")).first()[0]
    delete_where(store, spark, "orders", [("o_orderkey", "==", int(lo))])

    def run(name, skip):
        q = (stream_from_store(spark, store, "orders",
                               skip_change_commits=skip)
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
             .trigger(availableNow=True).start())
        stream_wait_close([q], timeout_seconds=300)
        return spark.table(name)

    with pytest.raises(Exception, match="skipChangeCommits"):
        run("fail_q", False)
    got = run("skip_q", True)
    assert got.count() == 20  # v0 snapshot only; the delete commit skipped


def test_stream_from_store_partitioned(spark, tmp_path):
    """Hive-partitioned tables stream with typed partition columns
    reattached per file (pyarrow hive inference = batch-read types)."""
    import pyspark.sql.functions as F
    from projectone_spark.store import TableStore
    from projectone_spark.sources.store_stream import stream_from_store
    from projectone_spark.streaming import stream_wait_close

    store = TableStore(str(tmp_path / "store"))
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(40)
    store.overwrite(spark, df.limit(25), "orders",
                    partition_by=["o_orderstatus"])
    store.append(spark, df.exceptAll(df.limit(25)), "orders")

    q = (stream_from_store(spark, store, "orders")
         .writeStream.format("memory").queryName("part_src")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    stream_wait_close([q], timeout_seconds=300)
    got = spark.table("part_src")
    assert got.count() == 40
    assert "o_orderstatus" in got.columns
    exp = {(r["o_orderkey"], r["o_orderstatus"]) for r in df.collect()}
    assert {(r["o_orderkey"], r["o_orderstatus"])
            for r in got.collect()} == exp


def test_stream_from_store_missing_table_raises(tmp_path):
    """A missing root or table fails with the table's name, and opening
    the source creates no directory."""
    from projectone_spark.sources.store_stream import (
        StoreChangesDataSource,
        StoreChangesStreamReader,
    )

    root = str(tmp_path / "nowhere")
    opts = {"root": root, "table": "orders"}
    with pytest.raises(FileNotFoundError, match="'orders' does not exist"):
        StoreChangesDataSource(opts).schema()
    with pytest.raises(FileNotFoundError, match="'orders' does not exist"):
        StoreChangesStreamReader(opts)
    assert not (tmp_path / "nowhere").exists()
