"""Write-engine tests mirroring the reference's integration suite
(``projectoneflow/tests/integration_tests/test_batch.py``): the same 6-row
``{id, name, offset}`` fixture, two-run upsert scenarios, and SCD history
assertions (active-subset equality, closed-row chaining)."""

from __future__ import annotations

import re
import time

import pyspark.sql.functions as F
import pytest

from projectone_spark.store import TableStore
from projectone_spark.writers import (
    ConstraintViolation,
    check_table_constraints,
    write_append,
    write_overwrite,
    write_scd1,
    write_scd2,
    write_scd3,
    write_selective_overwrite,
)
from projectone_spark.writers.hashing import (
    ACTIVE,
    SCD2_SENTINEL,
    VALID_FROM,
    VALID_TO,
)

BASE = [(1, "a", 10), (2, "b", 20), (3, "c", 30),
        (4, "d", 40), (5, "e", 50), (6, "f", 60)]
SCHEMA = "id long, name string, offset long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _ts(lit):
    return F.lit(lit).cast("timestamp")


# Column literals need a live session — wrap with _ts() at call sites.
T0, T1, T2 = "2024-01-01", "2024-02-01", "2024-03-01"


@pytest.fixture()
def store(tmp_path):
    return TableStore(str(tmp_path / "store"))


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# -- append / overwrite / selective_overwrite -------------------------------

def test_append_accumulates_and_stamps(spark, store):
    v0 = write_append(spark, store, _df(spark, BASE), "t", now=_ts(T0))
    v1 = write_append(spark, store, _df(spark, BASE[:2]), "t", now=_ts(T1))
    assert (v0, v1) == (0, 1)
    got = store.read(spark, "t")
    assert got.count() == 8
    assert VALID_TO in got.columns
    assert got.filter(F.col(VALID_TO).isNull()).count() == 0


def test_append_upsert_ts_columns(spark, store):
    write_append(spark, store, _df(spark, BASE), "t", now=_ts(T0), upsert_ts=True)
    cols = store.read(spark, "t").columns
    assert "__metadata_insert_ts__" in cols and "__metadata_update_ts__" in cols


def test_overwrite_replaces(spark, store):
    write_append(spark, store, _df(spark, BASE), "t", now=_ts(T0))
    write_overwrite(spark, store, _df(spark, BASE[:3]), "t", now=_ts(T1))
    assert store.read(spark, "t").count() == 3


def test_selective_overwrite_partition_values(spark, store):
    df = _df(spark, BASE).withColumn("grp", F.when(F.col("id") <= 3, "x").otherwise("y"))
    write_overwrite(spark, store, df, "t", partition_by=["grp"], now=_ts(T0))
    repl = (_df(spark, [(9, "z", 90)]).withColumn("grp", F.lit("x")))
    write_selective_overwrite(spark, store, repl, "t",
                              partition_values={"grp": ["x"]}, now=_ts(T1))
    got = store.read(spark, "t")
    assert _rows(got.filter("grp = 'x'"), "id") == [(9,)]
    assert _rows(got.filter("grp = 'y'"), "id") == [(4,), (5,), (6,)]


def test_selective_overwrite_replace_where(spark, store):
    write_overwrite(spark, store, _df(spark, BASE), "t", now=_ts(T0))
    repl = _df(spark, [(4, "D", 400)])
    write_selective_overwrite(spark, store, repl, "t",
                              replace_where="offset >= 40", now=_ts(T1))
    got = store.read(spark, "t")
    assert _rows(got, "id", "name") == [(1, "a"), (2, "b"), (3, "c"), (4, "D")]


def _two_dir_table(spark, store):
    """grp-partitioned table whose p2 rows span two data directories."""
    grp = F.when(F.col("id") <= 2, "p1").otherwise("p2")
    write_overwrite(spark, store, _df(spark, BASE[:4]).withColumn("grp", grp),
                    "t", partition_by=["grp"], now=_ts(T0))
    write_append(spark, store, _df(spark, BASE[4:]).withColumn("grp", grp),
                 "t", now=_ts(T0))
    assert len(store.manifest("t")["dirs"]) == 2


def test_selective_overwrite_keeps_untouched_rows_of_every_dir(spark, store):
    _two_dir_table(spark, store)
    repl = _df(spark, [(9, "z", 90)]).withColumn("grp", F.lit("p1"))
    write_selective_overwrite(spark, store, repl, "t",
                              partition_values={"grp": ["p1"]}, now=_ts(T1))
    got = store.read(spark, "t")
    assert _rows(got, "id", "grp") == [
        (3, "p2"), (4, "p2"), (5, "p2"), (6, "p2"), (9, "p1")]
    m = store.manifest("t")
    # exact changed-file sets: only p1's file was read and replaced
    assert m["metrics"]["replaced_partitions"] == ["grp=p1"]
    assert m["metrics"]["files_linked"] >= 2  # p2 files of both dirs


@pytest.mark.parametrize("cond", [{"partition_values": {"grp": ["p1"]}},
                                  {"replace_where": "grp = 'p1'"}],
                         ids=["partition_values", "replace_where"])
def test_selective_overwrite_rejects_rows_outside_range(spark, store, cond):
    """Delta's replaceWhere constraint: a source row outside the replaced
    range fails the write instead of replacing rows it never named."""
    _two_dir_table(spark, store)
    v = store.version("t")
    stray = _df(spark, [(9, "z", 90), (8, "y", 80)]).withColumn(
        "grp", F.when(F.col("id") == 9, "p1").otherwise("p2"))
    with pytest.raises(Exception, match="selective_overwrite on 't'.*p1"):
        write_selective_overwrite(spark, store, stray, "t", now=_ts(T1),
                                  **cond)
    assert store.version("t") == v
    assert store.read(spark, "t").count() == 6


def test_selective_overwrite_replace_where_keeps_null_rows(spark, store):
    """Rows whose condition is NULL are not in the replaced range."""
    rows = [(1, "a", 10), (2, "b", None)]
    write_overwrite(spark, store, _df(spark, rows), "t", now=_ts(T0))
    write_selective_overwrite(spark, store, _df(spark, [(3, "c", 30)]), "t",
                              replace_where="offset >= 10", now=_ts(T1))
    assert _rows(store.read(spark, "t"), "id") == [(2,), (3,)]


# -- scd1 -------------------------------------------------------------------

def test_scd1_two_run_upsert(spark, store):
    write_scd1(spark, store, _df(spark, BASE), "t", key_cols=["id"], now=_ts(T0))
    batch2 = _df(spark, [(2, "b", 99), (7, "g", 70)])  # update + insert
    write_scd1(spark, store, batch2, "t", key_cols=["id"], now=_ts(T1))

    got = store.read(spark, "t")
    assert _rows(got, "id", "name", "offset") == sorted(
        [(1, "a", 10), (2, "b", 99), (3, "c", 30), (4, "d", 40),
         (5, "e", 50), (6, "f", 60), (7, "g", 70)])
    # unchanged rows keep their original valid_from; changed/new take T1
    vf = {r["id"]: r[VALID_FROM].isoformat() for r in got.collect()}
    assert vf[1].startswith("2024-01-01") and vf[2].startswith("2024-02-01")
    assert vf[7].startswith("2024-02-01")


def test_scd1_noop_rerun_keeps_valid_from(spark, store):
    write_scd1(spark, store, _df(spark, BASE), "t", key_cols=["id"], now=_ts(T0))
    write_scd1(spark, store, _df(spark, BASE), "t", key_cols=["id"], now=_ts(T1))
    got = store.read(spark, "t")
    assert got.filter(F.col(VALID_FROM) == _ts(T1)).count() == 0


def test_scd1_dedup_on_keys(spark, store):
    dup = _df(spark, [(1, "a", 10), (1, "a", 10), (2, "b", 20)])
    write_scd1(spark, store, dup, "t", key_cols=["id"], now=_ts(T0),
               dedup_on_keys=True)
    assert store.read(spark, "t").count() == 2


# -- scd2 -------------------------------------------------------------------

def test_scd2_history_invariants(spark, store):
    write_scd2(spark, store, _df(spark, BASE), "t", key_cols=["id"],
               valid_from=_ts(T0))
    batch2 = _df(spark, [(2, "b", 99), (7, "g", 70)])
    write_scd2(spark, store, batch2, "t", key_cols=["id"], valid_from=_ts(T1))

    got = store.read(spark, "t")
    assert got.count() == 8  # 6 original + 1 closed-replacement + 1 new key
    active = got.filter(F.col(ACTIVE) == "Y")
    # exactly one active row per key — the reference's hardest invariant
    assert active.groupBy("id").count().filter("count > 1").count() == 0
    assert _rows(active, "id", "offset") == sorted(
        [(1, 10), (2, 99), (3, 30), (4, 40), (5, 50), (6, 60), (7, 70)])
    closed = got.filter(F.col(ACTIVE) == "N").collect()
    assert len(closed) == 1 and closed[0]["id"] == 2
    # closed row chains: valid_to == new version's valid_from
    assert closed[0][VALID_TO].isoformat().startswith("2024-02-01")
    new_active = active.filter("id = 2").collect()[0]
    assert new_active[VALID_FROM].isoformat().startswith("2024-02-01")
    assert new_active[VALID_TO].isoformat().startswith("9999-12-31")


def test_scd2_third_run_extends_chain(spark, store):
    write_scd2(spark, store, _df(spark, BASE), "t", key_cols=["id"], valid_from=_ts(T0))
    write_scd2(spark, store, _df(spark, [(2, "b", 99)]), "t", key_cols=["id"],
               valid_from=_ts(T1))
    write_scd2(spark, store, _df(spark, [(2, "b", 111)]), "t", key_cols=["id"],
               valid_from=_ts(T2))
    got = store.read(spark, "t").filter("id = 2")
    assert got.count() == 3
    chain = sorted((r[VALID_FROM].isoformat()[:10], r[VALID_TO].isoformat()[:10],
                    r[ACTIVE]) for r in got.collect())
    assert chain == [("2024-01-01", "2024-02-01", "N"),
                     ("2024-02-01", "2024-03-01", "N"),
                     ("2024-03-01", "9999-12-31", "Y")]


def test_scd2_active_mapping_and_rename(spark, store):
    write_scd2(spark, store, _df(spark, BASE), "t", key_cols=["id"], valid_from=_ts(T0),
               active_mapping={"Y": "1", "N": "0"},
               rename={ACTIVE: "is_active", VALID_TO: "end_ts"})
    got = store.read(spark, "t")
    assert "is_active" in got.columns and "end_ts" in got.columns
    assert got.filter("is_active = '1'").count() == 6


@pytest.mark.parametrize("rename", [None, {ACTIVE: "is_active",
                                            VALID_TO: "end_ts"}])
def test_scd2_active_mapping_second_write_keeps_history(spark, store, rename):
    """The second mapped write reads stored '1'/'0' flags back as Y/N:
    untouched keys stay, the changed key keeps its closed version."""
    names = {ACTIVE: ACTIVE, VALID_TO: VALID_TO, **(rename or {})}
    opts = {"key_cols": ["id"], "active_mapping": {"Y": "1", "N": "0"},
            "rename": rename}
    write_scd2(spark, store, _df(spark, BASE[:3]), "t", valid_from=_ts(T0),
               **opts)
    write_scd2(spark, store, _df(spark, [(2, "b", 99)]), "t",
               valid_from=_ts(T1), **opts)
    got = sorted((r["id"], r["offset"], r[names[ACTIVE]],
                  r[names[VALID_TO]].isoformat()[:10])
                 for r in store.read(spark, "t").collect())
    assert got == [(1, 10, "1", "9999-12-31"), (2, 20, "0", "2024-02-01"),
                   (2, 99, "1", "9999-12-31"), (3, 30, "1", "9999-12-31")]


def test_scd2_rename_roundtrip_second_run(spark, store):
    rename = {ACTIVE: "is_active"}
    write_scd2(spark, store, _df(spark, BASE), "t", key_cols=["id"],
               valid_from=_ts(T0), rename=rename)
    write_scd2(spark, store, _df(spark, [(2, "b", 99)]), "t", key_cols=["id"],
               valid_from=_ts(T1), rename=rename)
    got = store.read(spark, "t")
    assert got.filter("is_active = 'Y' AND id = 2").count() == 1
    assert got.filter("is_active = 'N' AND id = 2").count() == 1


def _final_write_plan(spark, write) -> str:
    """The final adaptive plan of the one file write ``write()`` runs, from
    Spark's SQL execution store, which records it after the execution
    ends, asynchronously."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    count = sql_store.executionsCount()
    last = sql_store.executionsList(count - 1, 1).apply(0).executionId() \
        if count else -1

    def write_plans() -> list[str]:
        plans, i = [], last + 1
        while not (found := sql_store.execution(i)).isEmpty():
            plans.append(found.get().physicalPlanDescription())
            i += 1
        return [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]

    write()
    deadline = time.monotonic() + 30
    plans = write_plans()
    while not any("== Final Plan ==" in p for p in plans) \
            and time.monotonic() < deadline:
        time.sleep(0.1)
        plans = write_plans()
    assert len(plans) == 1 and "== Final Plan ==" in plans[0], plans
    return plans[0]


def test_scd2_merge_plan_reads_target_once_without_sort(spark, store):
    """The SCD2 merge scans the target once (closed history rides the key
    join unmatched), hashes the source as the build side, sorts nothing,
    and keeps no interpreted lambda between the join and the write."""
    write_scd2(spark, store, _df(spark, BASE), "t", key_cols=["id"],
               valid_from=_ts(T0))
    write_scd2(spark, store, _df(spark, [(2, "b", 99)]), "t",
               key_cols=["id"], valid_from=_ts(T1))  # closes a row
    plan = _final_write_plan(spark, lambda: write_scd2(
        spark, store, _df(spark, [(3, "c", 99), (7, "g", 70)]), "t",
        key_cols=["id"], valid_from=_ts(T2)))
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    nodes = re.findall(r"^[\s:|+-]*(?:\* )?([A-Za-z]\w*)", final, re.M)
    assert "ShuffledHashJoin FullOuter BuildLeft" in final, final
    # one scan per side, the left (build) subtree printed first: the
    # source is built, the target's one parquet scan streams
    scans = re.findall(r"\bScan (\w+)", final)
    assert len(scans) == 2 and scans[1] == "parquet", final
    assert not {"Sort", "SortMergeJoin", "Union"} & set(nodes), final
    assert "* Generate" in final, final  # the explode is code-generated
    assert "lambdafunction" not in plan
    assert store.read(spark, "t").count() == 9


def test_scd2_fix_duplicates_by_key(spark, store):
    # one batch carrying three versions of key 1, where versions 2 and 3
    # have identical data (consecutive dup → dropped, reference
    # write.py:875-960) plus a single-version key 2
    batch = spark.createDataFrame(
        [(1, "a", 10, "2024-01-01 00:00:00"),
         (1, "a", 11, "2024-01-02 00:00:00"),
         (1, "a", 11, "2024-01-03 00:00:00"),
         (2, "b", 20, "2024-01-01 00:00:00")],
        "id long, name string, offset long, event_ts string") \
        .withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    write_scd2(spark, store, batch, "t", key_cols=["id"],
               valid_from="event_ts", fix_duplicates_by_key=True)
    got = store.read(spark, "t")
    k1 = sorted((r["offset"], r[ACTIVE], r[VALID_FROM].isoformat()[:10],
                 r[VALID_TO].isoformat()[:10]) for r in got.filter("id=1").collect())
    assert k1 == [(10, "N", "2024-01-01", "2024-01-02"),
                  (11, "Y", "2024-01-02", "9999-12-31")]
    assert got.filter("id=2").count() == 1


# -- scd3 -------------------------------------------------------------------

def test_scd3_prev_column_lifecycle(spark, store):
    write_scd3(spark, store, _df(spark, BASE), "t", key_cols=["id"],
               tracked_cols=["name"], now=_ts(T0))
    got = store.read(spark, "t")
    assert "prev_name" in got.columns
    assert got.filter(F.col("prev_name").isNotNull()).count() == 0

    # tracked-column change → prev_name takes old value
    write_scd3(spark, store, _df(spark, [(2, "B", 20)]), "t", key_cols=["id"],
               tracked_cols=["name"], now=_ts(T1))
    got = store.read(spark, "t")
    r2 = got.filter("id = 2").collect()[0]
    assert (r2["name"], r2["prev_name"]) == ("B", "b")

    # untracked data change → data updates, prev stays
    write_scd3(spark, store, _df(spark, [(2, "B", 999)]), "t", key_cols=["id"],
               tracked_cols=["name"], now=_ts(T2))
    r2 = store.read(spark, "t").filter("id = 2").collect()[0]
    assert (r2["name"], r2["prev_name"], r2["offset"]) == ("B", "b", 999)


#: a key and two payload names that are only single columns as quoted SQL
#: identifiers: a space, a dot, a backtick, a reserved word, non-ASCII
ODD_NAMES = ("ïd.`k` ey", "select", "off.set ñ")


@pytest.mark.parametrize("write_type", ["scd1", "scd2", "scd3"])
def test_scd_odd_column_names(spark, store, write_type):
    key, name, _ = ODD_NAMES
    write = {
        "scd1": lambda df, t: write_scd1(spark, store, df, "t", key_cols=[key],
                                         now=_ts(t)),
        "scd2": lambda df, t: write_scd2(spark, store, df, "t", key_cols=[key],
                                         valid_from=_ts(t)),
        "scd3": lambda df, t: write_scd3(spark, store, df, "t", key_cols=[key],
                                         tracked_cols=[name], now=_ts(t)),
    }[write_type]
    write(_df(spark, BASE).toDF(*ODD_NAMES), T0)
    write(_df(spark, [(2, "B", 99), (7, "g", 70)]).toDF(*ODD_NAMES), T1)

    got = store.read(spark, "t").withColumnsRenamed(
        {**dict(zip(ODD_NAMES, ("id", "name", "offset"))),
         f"prev_{name}": "prev_name"})
    if write_type == "scd2":
        assert got.count() == 8
        assert _rows(got.filter(F.col(ACTIVE) == "N"), "id", "name") == [(2, "b")]
        got = got.filter(F.col(ACTIVE) == "Y")
    assert _rows(got, "id", "name", "offset") == sorted(
        [(1, "a", 10), (2, "B", 99), (3, "c", 30), (4, "d", 40),
         (5, "e", 50), (6, "f", 60), (7, "g", 70)])
    if write_type == "scd3":
        assert _rows(got.filter("prev_name IS NOT NULL"), "id", "prev_name") \
            == [(2, "b")]


@pytest.mark.parametrize("write_type", ["scd1", "scd2", "scd3"])
def test_scd_resend_in_other_types_changes_nothing(spark, store, write_type):
    """The stored rows resent with the key, then a data column, as DOUBLE
    are unchanged rows: the source is hashed as the commit stores it, so
    no key is versioned, inserted twice or re-stamped."""
    write = {
        "scd1": lambda df, t: write_scd1(spark, store, df, "t",
                                         key_cols=["id"], now=_ts(t)),
        "scd2": lambda df, t: write_scd2(spark, store, df, "t",
                                         key_cols=["id"], valid_from=_ts(t)),
        "scd3": lambda df, t: write_scd3(spark, store, df, "t",
                                         key_cols=["id"], tracked_cols=["v"],
                                         now=_ts(t)),
    }[write_type]
    src = spark.createDataFrame([(i, 10 * i) for i in range(1, 5)],
                                "id long, v long")
    write(src, T0)
    before = store.read(spark, "t")
    cols = before.columns
    stored = _rows(before, *cols)
    for c, t in (("id", T1), ("v", T2)):
        write(src.withColumn(c, F.col(c).cast("double")), t)
        got = store.read(spark, "t")
        assert got.dtypes == before.dtypes
        assert _rows(got, *cols) == stored, c
    if write_type == "scd2":
        assert got.filter(F.col(ACTIVE) == "Y").select("id").distinct() \
            .count() == got.count() == 4


def test_scd3_second_tracked_change_overwrites_prev(spark, store):
    write_scd3(spark, store, _df(spark, BASE), "t", key_cols=["id"],
               tracked_cols=["name"], now=_ts(T0))
    write_scd3(spark, store, _df(spark, [(2, "B", 20)]), "t", key_cols=["id"],
               tracked_cols=["name"], now=_ts(T1))
    write_scd3(spark, store, _df(spark, [(2, "C", 20)]), "t", key_cols=["id"],
               tracked_cols=["name"], now=_ts(T2))
    r2 = store.read(spark, "t").filter("id = 2").collect()[0]
    assert (r2["name"], r2["prev_name"]) == ("C", "B")


# -- one commit path: partition spec, commit record, change feed -----------

def _scd_writer(spark, store, write_type):
    """``write(df, t, **kw)`` for one SCD type on table 't', keyed on id."""
    return {
        "scd1": lambda df, t, **kw: write_scd1(
            spark, store, df, "t", key_cols=["id"], now=_ts(t), **kw),
        "scd2": lambda df, t, **kw: write_scd2(
            spark, store, df, "t", key_cols=["id"], valid_from=_ts(t), **kw),
        "scd3": lambda df, t, **kw: write_scd3(
            spark, store, df, "t", key_cols=["id"], tracked_cols=["name"],
            now=_ts(t), **kw),
    }[write_type]


def _same_rows(a, b) -> bool:
    """Multiset equality of two frames over ``b``'s columns."""
    a = a.select(*b.columns)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize("write_type", ["scd1", "scd2", "scd3"])
def test_scd_write_keeps_partition_spec(spark, store, write_type):
    """An SCD write that omits ``partition_by`` keeps an existing table's
    partition spec and rows; a different ``partition_by`` raises, naming
    the table and both specs, and commits nothing."""
    write = _scd_writer(spark, store, write_type)
    grp = F.expr("IF(id <= 3, 'p1', 'p2')")
    write(_df(spark, BASE).withColumn("grp", grp), T0, partition_by=["grp"])
    write(_df(spark, [(2, "B", 20), (7, "g", 70)]).withColumn("grp", grp), T1)

    m = store.manifest("t")
    assert m["partition_by"] == ["grp"]
    assert m["files"] and all("/grp=p" in f["path"] for f in m["files"])
    got = store.read(spark, "t")
    if write_type == "scd2":
        assert got.count() == 8
        got = got.filter(F.col(ACTIVE) == "Y")
    assert _rows(got, "id", "name", "grp") == [
        (1, "a", "p1"), (2, "B", "p1"), (3, "c", "p1"), (4, "d", "p2"),
        (5, "e", "p2"), (6, "f", "p2"), (7, "g", "p2")]

    with pytest.raises(ValueError,
                       match=r"'t': partition_by \['name'\] != table \['grp'\]"):
        write(_df(spark, [(3, "C", 30)]).withColumn("grp", grp), T2,
              partition_by=["name"])
    assert store.version("t") == m["version"]


@pytest.mark.parametrize("write_type", ["scd1", "scd2", "scd3"])
def test_scd_resend_keeps_zero_padded_partition_rows(spark, store,
                                                      write_type):
    """A string partition column of zero-padded values reads back as int
    (its type is inferred from directory names), but the commit stores the
    source's strings: partition columns hash in the source's types, so a
    resend of the stored rows changes none of them."""
    write = _scd_writer(spark, store, write_type)
    src = _df(spark, BASE).withColumn(
        "zip", F.expr("IF(id <= 3, '01', '02')"))
    write(src, T0, partition_by=["zip"])
    before = store.read(spark, "t")
    assert dict(before.dtypes)["zip"] == "int"
    stored = _rows(before, *before.columns)
    write(src, T1)
    got = store.read(spark, "t")
    assert _rows(got, *before.columns) == stored
    if write_type == "scd2":
        assert got.filter(F.col(ACTIVE) == "Y").count() == got.count() == 6


def test_scd_writes_wide_value_into_int_inferred_partition(spark, store):
    """A bigint partition column whose small values read back as int takes
    a new value above 2^31: the commit stores partition values in the
    source's type, so the merge does not cast them to the read-back int."""
    write = _scd_writer(spark, store, "scd1")
    grp = F.expr("CAST(id % 2 AS BIGINT)")
    write(_df(spark, BASE).withColumn("grp", grp), T0, partition_by=["grp"])
    assert dict(store.read(spark, "t").dtypes)["grp"] == "int"
    wide = 2 ** 31 + 5
    write(_df(spark, [(7, "g", 70)]).withColumn("grp", F.lit(wide)), T1)
    got = store.read(spark, "t")
    assert _rows(got.filter("id = 7"), "id", "grp") == [(7, wide)]
    assert got.count() == 7


@pytest.mark.parametrize("write_type", ["scd2", "scd1"])
def test_scd_commit_records_operation_and_changes(spark, store, write_type):
    """An SCD increment is recorded as its write type with the rewrite's
    metrics, and the change feed over it is the exact snapshot diff."""
    from projectone_spark.store import read_changes

    write = _scd_writer(spark, store, write_type)
    write(_df(spark, BASE), T0)
    v = write(_df(spark, [(2, "B", 20), (7, "g", 70)]), T1)

    m = store.manifest("t")
    assert (m["version"], m["operation"]) == (v, write_type)
    assert {"files_rewritten", "rows_scanned", "rows_after_rewrite",
            "changed_old", "changed_new"} <= set(m["metrics"])
    assert m["metrics"]["rows_scanned"] == 6
    assert m["metrics"]["rows_after_rewrite"] == (8 if write_type == "scd2"
                                                  else 7)

    changes = read_changes(store, spark, "t", v, v)
    new = store.read_version(spark, "t", v)
    old = store.read_version(spark, "t", v - 1)
    assert _same_rows(changes.filter("_change_type = 'insert'"),
                      new.exceptAll(old))
    assert _same_rows(changes.filter("_change_type = 'delete'"),
                      old.exceptAll(new))
    # SCD2 inserts id 2's closed row beside its new version; SCD1 replaces it
    assert changes.filter("_change_type = 'insert'").count() == \
        (3 if write_type == "scd2" else 2)
    assert changes.filter("_change_type = 'delete'").count() == 1


def test_read_changes_on_partitioned_multi_dir_snapshots(spark, store):
    """The change feed reads partitioned snapshots of several data
    directories (an overwrite after an append) and a partitioned append's
    new directory with their partition columns."""
    from projectone_spark.store import read_changes

    df = _df(spark, BASE).withColumn("grp", F.expr("IF(id <= 3, 'p1', 'p2')"))
    store.overwrite(spark, df.filter("id <= 4"), "t", partition_by=["grp"])
    store.append(spark, df.filter("id > 4"), "t")                       # v1
    store.overwrite(spark, df.filter("id % 2 = 0"), "t",
                    partition_by=["grp"])                               # v2

    appended = read_changes(store, spark, "t", 1, 1)
    assert _rows(appended, "_change_type", "id", "grp") == [
        ("insert", 5, "p2"), ("insert", 6, "p2")]
    got = _rows(read_changes(store, spark, "t", 2, 2),
                "_change_type", "id", "grp")
    assert got == [("delete", 1, "p1"), ("delete", 3, "p1"),
                   ("delete", 5, "p2")]


# -- constraints + store ----------------------------------------------------

def test_table_constraint(spark, store):
    write_overwrite(spark, store, _df(spark, BASE[:3]), "dim", now=_ts(T0))
    ok = _df(spark, BASE[:2])
    check_table_constraints(spark, store, ok, [("dim", ["id"])])  # no raise
    bad = _df(spark, [(99, "zz", 0)])
    with pytest.raises(ConstraintViolation):
        check_table_constraints(spark, store, bad, [("dim", ["id"])])


def test_store_versioning_and_time_travel(spark, store):
    write_overwrite(spark, store, _df(spark, BASE[:2]), "t", now=_ts(T0))
    write_append(spark, store, _df(spark, BASE[2:4]), "t", now=_ts(T1))
    assert store.version("t") == 1
    assert [m["version"] for m in store.history("t")] == [1, 0]
    assert store.read_version(spark, "t", 0).count() == 2
    assert store.read(spark, "t").count() == 4


def test_append_partition_mismatch_raises(spark, store):
    df = _df(spark, BASE).withColumn("grp", F.lit("x"))
    write_overwrite(spark, store, df, "t", partition_by=["grp"], now=_ts(T0))
    with pytest.raises(ValueError):
        store.append(spark, df, "t", partition_by=["name"])


def test_scd2_history_start_value(spark, store):
    """history_start_tracking_value semantics (reference write.py:849-863):
    brand-new keys open their first history row at the fixed literal;
    changed keys' version-2 rows keep the source valid_from."""
    from projectone_spark.writers import write_scd2

    epoch = _ts("1900-01-01")
    write_scd2(spark, store, _df(spark, BASE[:3]), "t", key_cols=["id"],
               valid_from=_ts(T0), history_start=epoch)
    got = {r["id"]: r[VALID_FROM].isoformat()
           for r in store.read(spark, "t").collect()}
    assert all(v.startswith("1900-01-01") for v in got.values())

    # batch 2: id=2 changes (new version at T1), id=7 is brand new (epoch)
    write_scd2(spark, store, _df(spark, [(2, "b", 99), (7, "g", 70)]), "t",
               key_cols=["id"], valid_from=_ts(T1), history_start=epoch)
    t = store.read(spark, "t")
    active = {r["id"]: r[VALID_FROM].isoformat()
              for r in t.filter(F.col(ACTIVE) == "Y").collect()}
    assert active[7].startswith("1900-01-01")   # new key -> history start
    assert active[2].startswith("2024-02-01")   # new VERSION -> source time
    assert active[1].startswith("1900-01-01")   # untouched
    # exactly one active row per key still holds
    assert t.filter(F.col(ACTIVE) == "Y").count() == 4


def test_task_write_extra_options_knobs(spark, tmp_path):
    """persist_dataset / stage_results / exclude_data_columns /
    use_paritition_column_in_merge flow from the contract into the write."""
    from projectone_spark.config import SparkOutput, WriteOptions
    from projectone_spark.task import SparkTask

    wo = WriteOptions(key_attributes="id",
                      exclude_data_columns="offset",
                      persist_dataset=True, stage_results=True)
    out = SparkOutput(name="o", table="t", write_type="scd1",
                      write_options=wo)
    task = (SparkTask.builder.setName("knobs")
            .setInput(name="src", path="/root/testdata/sf0.001/orders.parquet",
                      source="parquet")
            .setOutput(name="o", table="t", write_type="scd1")
            .setStateLocation(str(tmp_path / "state"))
            .setStoreLocation(str(tmp_path / "s"))
            .setSession(spark).create())
    task._write_output(out, _df(spark, BASE))
    # change ONLY the excluded column: scd1 must see "no data change"
    changed = _df(spark, [(1, "a", 999)])
    task._write_output(out, changed)
    got = {r["id"]: r["offset"]
           for r in task.store.read(spark, "t").collect()}
    assert got[1] == 10  # offset excluded from change detection -> kept
    assert wo.data_attributes == "name"  # computed complement persisted


# -- plan construction cost -------------------------------------------------

def _py4j_calls(spark, monkeypatch, build) -> int:
    """py4j commands this thread sends while ``build()`` runs, not counting
    the object-release messages py4j sends as Python objects are freed."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    calls = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith("m\nd\n"):
            calls.append(command)
        return orig(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        build()
    return len(calls)


@pytest.mark.parametrize("merge", ["scd1_merge", "scd2_apply", "scd3_apply",
                                   "merge_into"])
def test_merge_plan_build_py4j_calls_fixed(spark, monkeypatch, store, merge):
    """Building (not running) a merge plan sends a fixed, small number of
    py4j calls whatever the column count: each projection crosses as SQL
    text, not as one Column object per column per side (that shape cost
    1,538 calls for a 9-column SCD2 and 1,263 for a 9-column
    ``merge_into``). ``merge_into`` is measured on the transform its
    commit runs over the candidate target files."""
    from projectone_spark.store import dml
    from projectone_spark.writers import merge as merges

    def merge_into(source, target, keys):
        if target is None:  # the table, and the transform its merge runs
            name = f"t{len(source.columns)}"
            store.overwrite(spark, source, name)
            built = {}
            with monkeypatch.context() as m:
                m.setattr(store, "_rewrite", lambda spark, name, snap, preds,
                          transform, *a, **kw: built.update(apply=transform))
                dml.merge_into(store, spark, name, source, keys)
            return built["apply"], store.read(spark, name)
        apply, tgt = target
        return apply(tgt)

    fn = merge_into if merge == "merge_into" else getattr(merges, merge)
    extra = {"scd3_apply": {"tracked_cols": ["c0"]}}.get(merge, {})
    counts = {}
    for ncols in (9, 9, 40):  # the first 9 warms py4j's class lookups
        source = spark.createDataFrame([(1, *["x"] * (ncols - 1))], ", ".join(
            ["id long"] + [f"c{i} string" for i in range(ncols - 1)]))
        target = fn(source, None, ["id"], **extra)
        counts[ncols] = _py4j_calls(
            spark, monkeypatch, lambda: fn(source, target, ["id"], **extra))
    assert counts[9] <= 100
    assert counts[40] == counts[9]
