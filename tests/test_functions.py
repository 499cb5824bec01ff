"""Frame helpers of ``projectone_spark/functions`` (package level):
``multiset_diff_count`` against the double-``exceptAll`` union it
replaced, and the ``values_frame`` VALUES fast path against
``createDataFrame``."""

from __future__ import annotations

import math

import pytest


def test_multiset_diff_count_matches_exceptall_zeroness(spark):
    from projectone_spark.functions import multiset_diff_count

    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, None), (3, "y")], "k int, v string")
    perm = spark.createDataFrame(
        [(3, "y"), (2, None), (1, "x"), (1, "x")], "k int, v string")
    multi = spark.createDataFrame(  # same SET, different multiplicity
        [(1, "x"), (2, None), (3, "y")], "k int, v string")
    nulldiff = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "z"), (3, "y")], "k int, v string")

    def old(x, y):
        return x.exceptAll(y).unionAll(y.exceptAll(x)).count()

    for other in (perm, multi, nulldiff):
        assert (multiset_diff_count(a, other) == 0) == (old(a, other) == 0)
    assert multiset_diff_count(a, perm) == 0
    assert multiset_diff_count(a, multi) > 0
    assert multiset_diff_count(a, nulldiff) > 0
    # column-order normalization: b's columns selected in a's order
    assert multiset_diff_count(a, perm.select("v", "k")) == 0


def test_values_frame_bit_identical_rows_and_types(spark):
    """The VALUES fast path must reproduce createDataFrame's rows and
    column dataTypes exactly (array containsNull may tighten — the
    documented inert difference) across every supported type, including
    the literal edge cases: signed zero, denormals, float extremes,
    escaped quotes/backslashes/newlines, empty arrays, NULLs."""
    from projectone_spark.functions import values_frame

    cases = [
        ([(1, "ab", "cd", "abcd", 7), (2, "x", "y", "xy", 3)],
         "step bigint, l string, r string, m string, c bigint"),
        ([(0, [0.1, -0.0, 5e-324, 1.7976931348623157e308], 1.5),
          (1, [], 0.0), (2, None, None)],
         "cid long, ce array<double>, cnorm double"),
        ([("it's a \\ test\nline",), (None,)], "s string"),
        ([(True,), (False,), (None,)], "b boolean"),
        ([(5, [1.0, 2.5])], "cell int, centroid array<double>"),
    ]
    for rows, ddl in cases:
        a, b = (values_frame(spark, rows, ddl),
                spark.createDataFrame(rows, ddl))
        key = repr  # rows mix None with values; repr gives a total order
        assert sorted(map(tuple, a.collect()), key=key) \
            == sorted(map(tuple, b.collect()), key=key)
        assert [f.name for f in a.schema.fields] \
            == [f.name for f in b.schema.fields]
        assert [f.dataType.simpleString() for f in a.schema.fields] \
            == [f.dataType.simpleString() for f in b.schema.fields]
        # and it really is a LocalRelation: zero-task collects
        assert "LocalTableScan" in \
            a._jdf.queryExecution().executedPlan().toString()


def test_values_frame_falls_back_on_unrenderable(spark):
    """NaN/Inf doubles, bool-valued int columns and unsupported DDL
    types have no exact literal rendering — the helper must fall back
    to createDataFrame (slower, identical rows), never coerce."""
    from projectone_spark.functions import values_frame

    nan = values_frame(spark, [(1, [float("nan")], 1.0)],
                       "cid long, ce array<double>, cnorm double")
    assert "LocalTableScan" not in \
        nan._jdf.queryExecution().executedPlan().toString() \
        or nan.collect()  # plan shape is createDataFrame's
    assert math.isnan(nan.collect()[0]["ce"][0])
    import datetime
    ts = values_frame(spark, [(datetime.datetime(2026, 1, 1),)],
                      "t timestamp")  # unsupported type -> fallback
    assert ts.schema.fields[0].dataType.simpleString() == "timestamp"
    assert ts.collect()[0]["t"] == datetime.datetime(2026, 1, 1)
    with pytest.raises(Exception):
        # bool in a bigint column: createDataFrame rejects it, so the
        # fast path must not silently render it as 1L
        values_frame(spark, [(True,)], "n bigint").collect()


def test_values_frame_size_guard_single_slice(spark):
    """Literal-dense payloads (e.g. 64x64 centroid arrays) must NOT take
    the VALUES path — spark.sql() analyzes eagerly and ~90 KB of double
    literals measured ~3 s of driver parse time (the e20/f15 regression
    caught mid-r12). Past the budget the rows ship as ONE pickled slice:
    same rows, 1 partition, no SQL text."""
    from projectone_spark.functions import values_frame

    rows = [(i, [float(i * 64 + j) * 1e-3 for j in range(64)])
            for i in range(64)]
    ddl = "cell int, centroid array<double>"
    big = values_frame(spark, rows, ddl)
    assert "LocalTableScan" not in \
        big._jdf.queryExecution().executedPlan().toString()
    assert big.rdd.getNumPartitions() == 1
    assert sorted(map(repr, big.collect())) \
        == sorted(map(repr, spark.createDataFrame(rows, ddl).collect()))
