"""CDC bounds served from parquet footers.

For a local directory of parquet files, ``SparkTask`` takes each file's
min/max of the CDC attribute from its footer, lets ``resolve_cdc`` pick the
new bound with no Spark job, and reads only the files that can hold new
rows, with the schema recorded for the footers' schema key. Every test
here runs that path side by side with ``cdc.incremental_read`` (the Spark
aggregate over every landed file) and asserts the same rows and the same
saved CDC state. The fallback cases assert that the footer path stepped
aside.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import pathlib
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import projectone_spark.task as task_mod
from projectone_spark.cdc import incremental_read, load_cdc_state, save_cdc_state
from projectone_spark.store import TableStore
from projectone_spark.store.skipping import footer_bounds
from projectone_spark.store.state import StateStore
from projectone_spark.task import SparkTask

META = "__metadata"


def _write(path: str, columns: dict, row_group_size: int | None = None,
           **kw) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, row_group_size=row_group_size, **kw)


def _rows(df) -> list[tuple]:
    cols = sorted(c for c in df.columns if not c.startswith(META))
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _same_state(a, b) -> None:
    fields = ("attribute", "start_value", "next_value", "load_type")
    for f in fields:
        x, y = getattr(a, f), getattr(b, f)
        assert (type(x), x) == (type(y), y), f


@pytest.fixture()
def used_footers(monkeypatch):
    """Records, per resolve_cdc call from SparkTask, whether footer bounds
    were passed."""
    calls: list[bool] = []
    real = task_mod.resolve_cdc

    def spy(*args, **kwargs):
        calls.append(kwargs.get("file_bounds") is not None)
        return real(*args, **kwargs)

    monkeypatch.setattr(task_mod, "resolve_cdc", spy)
    return calls


class Lanes:
    """One SparkTask (append output) and one ``incremental_read`` reference
    over the same source directory; ``step()`` runs both once."""

    def __init__(self, spark, root: str, src: str, attribute: str,
                 source_schema: str | None = None):
        self.spark, self.root, self.src = spark, root, src
        self.attribute, self.schema = attribute, source_schema
        self.ref_state = StateStore(os.path.join(root, "ref_state"))
        self.ref_rows: list[tuple] = []

    def task(self, backfill: tuple[str, str] | None = None) -> SparkTask:
        refresh = ({"type": "backfill", "start_value": backfill[0],
                    "end_value": backfill[1]} if backfill else
                   {"type": "incremental"})
        read_options = {"source_schema": self.schema} if self.schema else {}
        return (SparkTask.builder.setName("cdc_footers")
                .setInput(name="src", path=self.src, source="parquet",
                          cdc={"attribute": self.attribute},
                          read_options=read_options)
                .setOutput(name="out", table="target", write_type="append")
                .setRefreshPolicy(**refresh)
                .setStateLocation(os.path.join(self.root, "state"))
                .setStoreLocation(os.path.join(self.root, "store"))
                .setSession(self.spark)
                .create())

    def reference(self, backfill: tuple[str, str] | None = None) -> list[tuple]:
        reader = self.spark.read
        if self.schema:
            reader = reader.schema(self.schema)
        df, state = incremental_read(reader.parquet(self.src), self.attribute,
                                     self.ref_state, "src", backfill)
        rows = _rows(df)
        self.ref_rows = sorted(self.ref_rows + rows, key=repr)
        save_cdc_state(self.ref_state, "src", state)
        return rows

    def step(self, backfill: tuple[str, str] | None = None) -> None:
        task = self.task(backfill)
        assert all(r.status == "success" for r in task.execute())
        self.reference(backfill)
        store = TableStore(os.path.join(self.root, "store"))
        got = _rows(store.read(self.spark, "target")) if store.exists("target") else []
        assert got == self.ref_rows
        _same_state(load_cdc_state(task.state, "src"),
                    load_cdc_state(self.ref_state, "src"))


# -- exact footer values -----------------------------------------------------

def test_footer_bounds_equal_spark_collect(spark, tmp_path):
    """Each footer bound is the value, with the Python type, that Spark's
    min/max collects for the same file."""
    utc = dt.timezone.utc
    ts = [dt.datetime(1950, 3, 1, 12, 0, 0, 250_000, tzinfo=utc),
          dt.datetime(2024, 1, 2, 3, 4, 5, 678_000, tzinfo=utc)]
    naive = [t.replace(tzinfo=None) for t in ts]
    cols = {
        "i": pa.array([-7, 3], pa.int32()),
        "l": pa.array([2**40, -(2**40)], pa.int64()),
        "d": pa.array([dt.date(1999, 12, 31), dt.date(1901, 1, 1)]),
        "ts_ms": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "ts_us": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "ntz": pa.array(naive, pa.timestamp("us")),
    }
    path = str(tmp_path / "src" / "f.parquet")
    _write(path, cols, row_group_size=1)
    df = spark.read.parquet(str(tmp_path / "src"))
    for c in cols:
        row = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
        [(_, lo, hi)] = footer_bounds([path], c, df.schema[c].dataType)
        assert (type(lo), lo, type(hi), hi) == \
            (type(row["lo"]), row["lo"], type(row["hi"]), row["hi"]), c


def test_footer_bounds_decline_inexact_stats(spark, tmp_path):
    from pyspark.sql import types as T

    path = str(tmp_path / "f.parquet")
    _write(path, {"ns": pa.array([1, 2], pa.timestamp("ns")),
                  "u": pa.array([1, 2], pa.uint32()),
                  "old": pa.array([dt.date(1500, 1, 1), dt.date(2000, 1, 1)]),
                  "n": pa.array([None, 5], pa.int64())}, row_group_size=1)
    # nanos read as long (spark.sql.legacy.parquet.nanosAsLong)
    assert footer_bounds([path], "ns", T.LongType()) is None
    assert footer_bounds([path], "u", T.LongType()) is None
    assert footer_bounds([path], "old", T.DateType()) is None  # pre-1900
    assert footer_bounds([path], "n", T.LongType()) is None  # all-null group
    assert footer_bounds([path], "missing", T.LongType()) is None


# -- the footer path ---------------------------------------------------------

def test_spark_written_append(spark, tmp_path, used_footers):
    src = str(tmp_path / "src")
    schema = "id long, name string, offset long"
    spark.createDataFrame([(1, "a", 10), (2, "b", 20)], schema).write.parquet(src)
    lanes = Lanes(spark, str(tmp_path), src, "offset")
    lanes.step()
    lanes.step()  # nothing new
    spark.createDataFrame([(3, "c", 30), (4, "d", 20)], schema) \
        .write.mode("append").parquet(src)
    lanes.step()
    assert used_footers == [True, True, True]


def test_empty_and_late_files(spark, tmp_path, used_footers):
    src = str(tmp_path / "src")
    ts = pa.timestamp("us", tz="UTC")
    day = [dt.datetime(2024, 1, d, tzinfo=dt.timezone.utc) for d in range(1, 6)]
    _write(f"{src}/p0.parquet", {"id": [1, 2], "ts": pa.array(day[1:3], ts)})
    _write(f"{src}/p1.parquet", {"id": pa.array([], pa.int64()),
                                 "ts": pa.array([], ts)})
    lanes = Lanes(spark, str(tmp_path), src, "ts")
    lanes.step()
    # late: every value at or below the watermark
    _write(f"{src}/p2.parquet", {"id": [3, 4], "ts": pa.array(day[0:3], ts)[1:]})
    lanes.step()
    # new rows next to a late one, and another empty file
    _write(f"{src}/p3.parquet", {"id": [5, 6], "ts": pa.array([day[0], day[4]], ts)})
    _write(f"{src}/p4.parquet", {"id": pa.array([], pa.int64()),
                                 "ts": pa.array([], ts)})
    lanes.step()
    assert used_footers == [True, True, True]


def test_empty_source_first_run(spark, tmp_path, used_footers):
    src = str(tmp_path / "src")
    _write(f"{src}/p0.parquet", {"id": pa.array([], pa.int64()),
                                 "offset": pa.array([], pa.int64())})
    lanes = Lanes(spark, str(tmp_path), src, "offset")
    lanes.step()
    _write(f"{src}/p1.parquet", {"id": [1], "offset": [5]})
    lanes.step()
    assert used_footers == [True, True]


def test_backfill_then_incremental(spark, tmp_path, used_footers):
    """A backfill saves its string range end as the watermark. The next
    run resolves against it with the aggregate, which lets Spark cast the
    string, and saves a timestamp; the run after that uses the footers."""
    src = str(tmp_path / "src")
    ts = pa.timestamp("us", tz="UTC")
    day = [dt.datetime(2020, 6, d, tzinfo=dt.timezone.utc) for d in range(28, 31)]
    _write(f"{src}/p0.parquet", {"id": [1, 2, 3], "ts": pa.array(day, ts)})
    lanes = Lanes(spark, str(tmp_path), src, "ts")
    lanes.step(backfill=("2020-01-01T00:00:00", "2020-06-29T00:00:00"))
    assert isinstance(load_cdc_state(lanes.ref_state, "src").next_value, str)
    lanes.step()
    _write(f"{src}/p1.parquet", {"id": [4], "ts": pa.array(
        [dt.datetime(2020, 7, 1, tzinfo=dt.timezone.utc)], ts)})
    lanes.step()
    assert used_footers == [False, False, True]


def test_narrowed_read_skips_old_files(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(f"{src}/p0.parquet", {"id": [1, 2], "offset": [10, 20]})
    lanes = Lanes(spark, str(tmp_path), src, "offset")
    lanes.step()
    _write(f"{src}/p1.parquet", {"id": [3], "offset": [30]})
    task = lanes.task()
    df = task._read_input(task.config.inputs[0])
    assert [os.path.basename(f) for f in df.inputFiles()] == ["p1.parquet"]
    assert _rows(df) == [(3, 30)]


# -- fallback to the Spark aggregate ----------------------------------------

def _fallback_case(spark, tmp_path, used_footers, first: dict, second: dict,
                   attribute: str, dirs: tuple[str, str] = ("", ""),
                   source_schema: str | None = None, **write_kw) -> None:
    src = str(tmp_path / "src")
    lanes = Lanes(spark, str(tmp_path), src, attribute, source_schema)
    _write(f"{src}/{dirs[0]}p0.parquet", first, **write_kw)
    lanes.step()
    _write(f"{src}/{dirs[1]}p1.parquet", second, **write_kw)
    lanes.step()
    assert used_footers == [False, False]


def test_fallback_string_attribute(spark, tmp_path, used_footers):
    _fallback_case(spark, tmp_path, used_footers,
                   {"id": [1, 2], "k": ["a", "b"]},
                   {"id": [3, 4], "k": ["b", "c"]}, "k")


def test_fallback_double_attribute(spark, tmp_path, used_footers):
    _fallback_case(spark, tmp_path, used_footers,
                   {"id": [1, 2], "x": [0.5, 1.5]},
                   {"id": [3, 4], "x": [1.5, 2.5]}, "x")


def test_fallback_all_null_row_group(spark, tmp_path, used_footers):
    _fallback_case(spark, tmp_path, used_footers,
                   {"id": [1, 2, 3], "offset": pa.array([10, None, None], pa.int64())},
                   {"id": [4, 5], "offset": pa.array([None, 30], pa.int64())},
                   "offset", row_group_size=1)


def test_fallback_int96_timestamp(spark, tmp_path, used_footers):
    ts = pa.timestamp("us")
    _fallback_case(spark, tmp_path, used_footers,
                   {"id": [1, 2], "ts": pa.array([dt.datetime(2024, 1, 1),
                                                  dt.datetime(2024, 1, 2)], ts)},
                   {"id": [3], "ts": pa.array([dt.datetime(2024, 1, 3)], ts)},
                   "ts", use_deprecated_int96_timestamps=True)


def test_fallback_hive_partitioned(spark, tmp_path, used_footers):
    _fallback_case(spark, tmp_path, used_footers,
                   {"id": [1, 2], "offset": [10, 20]},
                   {"id": [3], "offset": [30]}, "offset", dirs=("p=1/", "p=2/"))


def test_fallback_source_schema(spark, tmp_path, used_footers):
    _fallback_case(spark, tmp_path, used_footers,
                   {"id": [1, 2], "offset": [10, 20]},
                   {"id": [3], "offset": [30]}, "offset",
                   source_schema="id long, offset long")


def test_fallback_unreadable_footer(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(f"{src}/p0.parquet", {"id": [1], "offset": [10]})
    with open(f"{src}/p1.parquet", "wb") as f:
        f.write(b"not parquet")
    opts = {"ignoreCorruptFiles": "true"}
    df = spark.read.options(**opts).parquet(src)
    assert len(df.inputFiles()) == 2
    assert task_mod._footer_file_bounds(df, "parquet", src, opts, "offset") is None


# -- random increment sequences ---------------------------------------------

VALUE = st.one_of(st.none(), st.integers(min_value=0, max_value=8))
ROW_GROUP = st.lists(VALUE, min_size=1, max_size=3).filter(
    lambda g: any(v is not None for v in g))
FILE = st.lists(ROW_GROUP, max_size=3)  # no row groups: an empty file
INCREMENT = st.lists(FILE, max_size=2)  # no files: an empty increment


def _write_groups(path: str, groups: list[list], first_id: int) -> None:
    """One parquet row group per list in ``groups``; no groups writes an
    empty file."""
    schema = pa.schema([("id", pa.int64()), ("offset", pa.int64())])
    with pq.ParquetWriter(path, schema) as w:
        for g in groups:
            w.write_table(pa.table({"id": range(first_id, first_id + len(g)),
                                    "offset": g}, schema=schema))
            first_id += len(g)


@given(increments=st.lists(INCREMENT, min_size=1, max_size=4))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_footer_path_matches_incremental_read(spark, used_footers, increments):
    """Duplicate watermark values, empty increments, late files, several
    row groups per file and nulls: the footer path reads the same rows
    and saves the same state as the aggregate over every file."""
    with tempfile.TemporaryDirectory() as root:
        src = os.path.join(root, "src")
        os.makedirs(src)
        lanes = Lanes(spark, root, src, "offset")
        task = lanes.task()
        seq = 0
        for files in increments:
            for groups in files:
                _write_groups(os.path.join(src, f"p{seq:03d}.parquet"), groups,
                              seq * 100)
                seq += 1
            if seq == 0:
                continue  # Spark cannot infer a schema from no files
            used_footers.clear()
            got = _rows(task._read_input(task.config.inputs[0]))
            save_cdc_state(task.state, "src", task._pending_cdc["src"])
            assert got == lanes.reference()
            _same_state(load_cdc_state(task.state, "src"),
                        load_cdc_state(lanes.ref_state, "src"))
            assert used_footers == [True]


# -- the recorded schema -----------------------------------------------------

@contextlib.contextmanager
def _conf(spark, key: str | None, value: str | None):
    """Sets one session conf for the block, then restores it."""
    if key is None:
        yield
        return
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _arrow_file(src: str, i: int, **cols) -> None:
    _write(f"{src}/p{i}.parquet", {"offset": [10 * i + 1, 10 * i + 2], **cols})


def _ntz_file(spark, src: str, i: int) -> None:
    _arrow_file(src, i, ts=pa.array([dt.datetime(2024, 1, 1 + i)] * 2,
                                    pa.timestamp("us")))


def _binary_file(spark, src: str, i: int) -> None:
    _arrow_file(src, i, b=pa.array([b"x", b"yz"], pa.binary()))


def _spark_file(spark, src: str, i: int) -> None:
    spark.sql(f"SELECT CAST({i} + 0.125 AS DECIMAL(12, 3)) AS d, "
              f"CAST('v{i}' AS VARCHAR(8)) AS v, CAST({10 * i + 1} AS BIGINT) "
              f"AS offset").write.mode("append").parquet(src)


@pytest.mark.parametrize("write, conf, values", [
    (_ntz_file, "spark.sql.parquet.inferTimestampNTZ.enabled",
     ["true", "true", "false", "false", "true"]),
    (_binary_file, "spark.sql.parquet.binaryAsString",
     ["false", "true", "true", "false"]),
    (_spark_file, None, [None, None, None]),
], ids=["timestamp_ntz", "binary_as_string", "spark_row_metadata"])
def test_recorded_schema_equals_inference(spark, tmp_path, used_footers,
                                          write, conf, values):
    """Run after run, with a file landed before each and the conf set as
    given, the frame a run reads has the schema ``spark.read.parquet``
    infers for the directory. The record is rewritten only when the conf
    or the files' footer schemas change it."""
    src = str(tmp_path / "src")
    lanes = Lanes(spark, str(tmp_path), src, "offset")
    task = lanes.task()
    seen = []
    for i, value in enumerate(values):
        write(spark, src, i)
        with _conf(spark, conf, value):
            df = task._read_input(task.config.inputs[0])
            save_cdc_state(task.state, "src", task._pending_cdc["src"])
            want = spark.read.parquet(src).schema
            assert df.schema == want
            assert _rows(df) == lanes.reference()
        seen.append(want)
    changes = sum(a != b for a, b in zip(seen, seen[1:]))
    record = task.state.get("src_parquet_schema", folder="sources")
    assert record["version"] == changes
    assert used_footers == [True] * len(values)


def _extra_entry(src: str, name: str) -> None:
    if name == "_spark_metadata/":
        # a streaming file sink's log that commits p0 only, beside a file
        # of a batch it never committed
        _write(f"{src}/p9.parquet", {"id": [9], "offset": [90]})
        p0 = f"{src}/p0.parquet"
        entry = {"path": pathlib.Path(p0).as_uri(), "size": os.path.getsize(p0),
                 "isDir": False, "modificationTime": 0, "blockReplication": 1,
                 "blockSize": 1 << 25, "action": "add"}
        os.makedirs(f"{src}/{name}")
        with open(f"{src}/{name}0", "w") as f:
            f.write("v1\n" + json.dumps(entry))
    elif name.endswith("/"):
        _write(f"{src}/{name}p1.parquet", {"id": [7], "offset": [70]})
    elif name in ("_metadata", "_common_metadata", "_k=1.parquet"):
        _write(f"{src}/{name}", {"id": [8], "offset": [80]})
    else:
        with open(f"{src}/{name}", "wb") as f:
            f.write(b"not parquet")


@pytest.mark.parametrize("extra", [
    "_SUCCESS", ".p9.parquet.crc", "p9.parquet._COPYING_", "_k=1.parquet",
    "_temporary/", ".hidden/", "_metadata", "_common_metadata", "sub/",
    "_spark_metadata/"])
def test_listing_matches_spark_or_falls_back(spark, tmp_path, extra):
    """The Python listing takes the files ``spark.read.load(dir)`` reads,
    or declines so that Spark lists the directory; either way the run
    reads the rows the aggregate path reads."""
    src = str(tmp_path / "src")
    _write(f"{src}/p0.parquet", {"id": [1, 2], "offset": [10, 20]})
    _extra_entry(src, extra)
    listed = task_mod._listed_files(src)
    if extra in ("_metadata", "_common_metadata", "sub/", "_spark_metadata/"):
        assert listed is None
        if extra == "_spark_metadata/":  # Spark reads what the log commits
            assert [task_mod._local_path(f) for f in
                    spark.read.load(src).inputFiles()] == [f"{src}/p0.parquet"]
    else:
        spark_files = spark.read.load(src).inputFiles()
        assert listed == sorted(task_mod._local_path(f) for f in spark_files)
    Lanes(spark, str(tmp_path), src, "offset").step()


def test_spark_listed_files_read_back_from_an_escaped_path(
        spark, tmp_path, used_footers):
    """When Spark lists the directory (here a summary file makes the
    Python listing decline), the new files are read back by the paths
    their footers were read from, not by Spark's %-escaped file URIs."""
    src = str(tmp_path / "src dir%")
    _extra_entry(src, "_metadata")
    lanes = Lanes(spark, str(tmp_path), src, "offset")
    for i in range(3):
        _write(f"{src}/p{i}.parquet", {"id": [i], "offset": [10 * i + 1]})
        lanes.step()
    assert task_mod._listed_files(src) is None
    assert used_footers == [True] * 3


def test_file_input_reads_listed_files_whatever_the_default_fs(
        spark, tmp_path, used_footers):
    """A ``file:`` input is planned from footers even when the default file
    system is another one, and the run reads the listed files from the
    local file system. A path with no scheme then names a file of the
    default file system, so the Python listing declines it."""
    src = str(tmp_path / "src dir")
    lanes = Lanes(spark, str(tmp_path), "file:" + src, "offset")
    task = lanes.task()
    for i in range(3):
        _write(f"{src}/p{i}.parquet", {"id": [i], "offset": [10 * i + 1]})
        with _conf(spark, "fs.defaultFS", "nosuchfs:///"):
            assert not task_mod._on_local_fs(spark, src)
            got = _rows(task._read_input(task.config.inputs[0]))
        save_cdc_state(task.state, "src", task._pending_cdc["src"])
        assert got == lanes.reference()
    assert task_mod._on_local_fs(spark, src)
    assert used_footers == [True] * 3


# -- planning jobs -------------------------------------------------------------

def _last_job(spark) -> int:
    """Id of a job run now: every later job has a larger id."""
    sc = spark.sparkContext
    sc.setJobGroup("cdc-footers-mark", "job id mark")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup("cdc-footers-mark"))


def _jobs_since(spark, mark: int) -> list[int]:
    """Ids of every job started after job ``mark``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs, jid = [], mark + 1
    while tracker.getJobInfo(jid) is not None:
        jobs.append(jid)
        jid += 1
    return jobs


def test_warm_run_starts_no_job_outside_its_output(spark, tmp_path):
    """A parquet CDC → SCD2 run plans its read from footers and the
    recorded schema: once the schema is recorded, every Spark job of a run
    belongs to its output's ``output_{name}_{batch_id}`` group. The first
    run over a schema key infers it with one job and records it."""
    src = str(tmp_path / "src")
    cols = {"k": pa.array([1, 2, 3], pa.int64()), "v": ["a", "b", "c"]}

    def land(i: int) -> None:
        ts = dt.datetime(2024, 1, 1 + i, tzinfo=dt.timezone.utc)
        _write(f"{src}/p{i}.parquet", {**cols, "v": [f"{x}{i}" for x in cols["v"]],
                                       "ts": pa.array([ts] * 3, pa.timestamp("us", tz="UTC"))})

    def run() -> tuple[list[int], list[int]]:
        task = (SparkTask.builder.setName("cdc_jobs")
                .setInput(name="src", path=src, source="parquet",
                          cdc={"attribute": "ts"})
                .setOutput(name="hist", table="hist", write_type="scd2",
                           write_options={"key_attributes": "k",
                                          "history_tracking_col": "ts"})
                .setStateLocation(str(tmp_path / "state"))
                .setStoreLocation(str(tmp_path / "store"))
                .setSession(spark)
                .create())
        mark = _last_job(spark)
        assert all(r.status == "success" for r in task.execute())
        jobs = _jobs_since(spark, mark)
        own = set(spark.sparkContext.statusTracker().getJobIdsForGroup(
            f"output_hist_{task.batch_id}"))
        return [j for j in jobs if j not in own], [j for j in jobs if j in own]

    land(0)
    outside, own = run()
    assert len(outside) == 1 and own  # the schema inference
    state = StateStore(str(tmp_path / "state"))
    assert state.get("src_parquet_schema", folder="sources")["version"] == 0
    for i in (1, 2):
        land(i)
        outside, own = run()
        assert outside == [] and own
    assert state.get("src_parquet_schema", folder="sources")["version"] == 0
    hist = TableStore(str(tmp_path / "store")).read(spark, "hist")
    assert hist.count() == 9 and hist.filter("v LIKE '%2'").count() == 3
