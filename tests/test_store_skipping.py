"""File-level data skipping + Z-order clustering on the TableStore.

Correctness oracle: read_where must equal a full-scan filter, exactly, for
every predicate — pruning is an optimization, never a filter. Efficiency is
asserted via skipping_report (files/bytes actually excluded).
"""

import pyspark.sql.functions as F
import pytest

from projectone_spark.store import TableStore
from projectone_spark.store.maintenance import zorder_cluster
from projectone_spark.store.skipping import (
    predicates_to_sql, prune_files, read_where, skipping_report,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def store(tmp_path):
    return TableStore(str(tmp_path / "store"))


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def _assert_same(got, want):
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_read_where_equals_full_filter_and_prunes(spark, store):
    # range-clustered write → disjoint o_orderkey ranges per file
    df = _orders(spark).repartitionByRange(8, "o_orderkey")
    store.overwrite(spark, df, "orders", stats_columns=["o_orderkey", "o_orderdate"])

    preds = [("o_orderkey", "<=", 1000)]
    got = read_where(store, spark, "orders", preds)
    _assert_same(got, store.read(spark, "orders").filter("o_orderkey <= 1000"))

    rep = skipping_report(store, "orders", preds)
    assert rep["files_total"] == 8
    assert rep["files_kept"] < rep["files_total"]
    assert rep["bytes_kept"] < rep["bytes_total"]


def test_skipping_on_date_strings(spark, store):
    df = _orders(spark).repartitionByRange(8, "o_orderdate")
    store.overwrite(spark, df, "orders", stats_columns=["o_orderdate"])
    preds = [("o_orderdate", ">=", "1997-01-01")]
    got = read_where(store, spark, "orders", preds)
    _assert_same(got, store.read(spark, "orders")
                 .filter("o_orderdate >= '1997-01-01'"))
    rep = skipping_report(store, "orders", preds)
    assert rep["files_kept"] < rep["files_total"]

    # boundary probe both directions: a file whose min is midnight of the cut
    # date must NOT be pruned by '<=' on the bare date
    got_le = read_where(store, spark, "orders", [("o_orderdate", "<=", "1997-01-01")])
    _assert_same(got_le, store.read(spark, "orders")
                 .filter("o_orderdate <= '1997-01-01'"))


def test_partition_path_pruning_without_footer_stats(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df, "orders", partition_by=["o_orderpriority"],
                    stats_columns=["o_orderkey"])
    preds = [("o_orderpriority", "=", "1-URGENT"), ("o_orderkey", ">", 0)]
    got = read_where(store, spark, "orders", preds)
    _assert_same(got, store.read(spark, "orders")
                 .filter("o_orderpriority = '1-URGENT' AND o_orderkey > 0"))
    kept, total = prune_files(store.manifest("orders"), preds)
    assert 0 < len(kept) < total
    # partition column survives into the result (basePath discovery)
    assert "o_orderpriority" in got.columns


def test_append_extends_stats_incrementally(spark, store):
    df = _orders(spark)
    old = df.filter("o_orderdate < '1996-01-01'").repartition(2)
    new = df.filter("o_orderdate >= '1996-01-01'").repartition(2)
    store.overwrite(spark, old, "orders", stats_columns=["o_orderdate"])
    files_v0 = [f["path"] for f in store.manifest("orders")["files"]]
    store.append(spark, new, "orders")  # stats_columns inherited
    m = store.manifest("orders")
    assert len(m["files"]) == 4
    # v0 entries are carried, not recomputed
    assert set(files_v0) <= {f["path"] for f in m["files"]}
    preds = [("o_orderdate", ">=", "1996-01-01")]
    rep = skipping_report(store, "orders", preds)
    assert rep["files_kept"] == 2  # the whole first snapshot skipped
    _assert_same(read_where(store, spark, "orders", preds),
                 store.read(spark, "orders").filter("o_orderdate >= '1996-01-01'"))


def test_unknown_stats_and_weird_ops_keep_files(spark, store):
    df = _orders(spark).repartition(4)
    store.overwrite(spark, df, "orders", stats_columns=["o_orderkey"])
    # column without stats + non-prunable op: nothing pruned, result exact
    preds = [("o_orderstatus", "=", "F"), ("o_comment", "!=", "x")]
    kept, total = prune_files(store.manifest("orders"), preds)
    assert len(kept) == total
    got = read_where(store, spark, "orders",
                     [("o_orderstatus", "=", "F")])
    _assert_same(got, store.read(spark, "orders").filter("o_orderstatus = 'F'"))


def test_optimize_zorder_improves_skipping(spark, store):
    # deliberately shuffle so every file spans the full key range
    ev = _orders(spark).repartition(8)
    store.overwrite(spark, ev, "orders",
                    stats_columns=["o_orderkey", "o_totalprice"])
    preds = [("o_orderkey", "<", 500), ("o_totalprice", "<", 50000.0)]
    before = skipping_report(store, "orders", preds)
    assert before["files_kept"] == before["files_total"]  # random layout: no skip

    zorder_cluster(store, spark, "orders",
                   ["o_orderkey", "o_totalprice"], target_files=8)
    after = skipping_report(store, "orders", preds)
    assert after["files_kept"] < after["files_total"]
    assert store.manifest("orders")["operation"] == "zorder"

    _assert_same(read_where(store, spark, "orders", preds),
                 store.read(spark, "orders")
                 .filter("o_orderkey < 500 AND o_totalprice < 50000.0"))


def test_zorder_column_is_codegen_expression(spark, store, monkeypatch):
    import contextlib
    import io

    store.overwrite(spark, _orders(spark), "orders")
    written = []
    overwrite = store.overwrite

    def capture(spark, df, *args, **kwargs):
        written.append(df)
        return overwrite(spark, df, *args, **kwargs)

    monkeypatch.setattr(store, "overwrite", capture)
    zorder_cluster(store, spark, "orders", ["o_orderkey", "o_totalprice"])
    written[0].collect()  # so the adaptive plan is final and shows codegen
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        written[0].explain("formatted")
    plan = buf.getvalue()
    # no Python eval stage: the z-value runs JVM-side inside codegen
    # (formatted mode marks codegen stages with a leading '*')
    assert "EvalPython" not in plan
    assert "* Project" in plan


def test_single_column_optimize_disjoint_ranges(spark, store):
    store.overwrite(spark, _orders(spark).repartition(6), "orders",
                    stats_columns=["o_orderdate"])
    zorder_cluster(store, spark, "orders", ["o_orderdate"], target_files=6)
    m = store.manifest("orders")
    spans = sorted((f["min"]["o_orderdate"], f["max"]["o_orderdate"])
                   for f in m["files"] if "o_orderdate" in f["min"])
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next  # range partitioning → non-overlapping files


def test_optimize_preserves_partitioning(spark, store):
    df = _orders(spark)
    store.overwrite(spark, df, "orders", partition_by=["o_orderstatus"],
                    stats_columns=["o_orderdate"])
    zorder_cluster(store, spark, "orders", ["o_orderdate"], target_files=4)
    m = store.manifest("orders")
    assert m["partition_by"] == ["o_orderstatus"]
    import os

    assert any(e.startswith("o_orderstatus=")
               for e in os.listdir(m["dirs"][0]))
    got = store.read(spark, "orders")
    assert got.count() == df.count()
    assert "o_orderstatus" in got.columns
    # skipping still works on the clustered column within partitions
    preds = [("o_orderdate", ">=", "1997-01-01"),
             ("o_orderstatus", "=", "F")]
    _assert_same(read_where(store, spark, "orders", preds),
                 store.read(spark, "orders")
                 .filter("o_orderdate >= '1997-01-01' AND o_orderstatus = 'F'"))


def test_stats_gap_never_drops_files(spark, store):
    """A commit written without stats must still be scanned by read_where
    (regression: stats-less dirs were excluded from the pruned scan)."""
    df = _orders(spark)
    old = df.filter("o_orderdate < '1996-01-01'")
    new = df.filter("o_orderdate >= '1996-01-01'")
    store.overwrite(spark, old, "orders")                 # NO stats recorded
    store.append(spark, new, "orders",
                 stats_columns=["o_orderdate"])           # stats for v1 only
    preds = [("o_orderdate", "<", "1996-01-01")]          # lives in v0!
    got = read_where(store, spark, "orders", preds)
    _assert_same(got, store.read(spark, "orders")
                 .filter("o_orderdate < '1996-01-01'"))
    assert got.count() == old.count() > 0


def test_decimal_stats_column_writes_appends_and_prunes(spark, store):
    """Spark stores a decimal of precision <= 18 as INT32/INT64, whose
    footer stats pyarrow cannot decode (regression: every write with such
    a stats column crashed after its data dir was written). The stats
    come from the raw unscaled values instead, exactly."""
    df = _orders(spark).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("price"))
    low, high = df.filter("price < 100000"), df.filter("price >= 100000")
    store.overwrite(spark, low.repartitionByRange(2, "price"), "orders",
                    stats_columns=["price"])
    store.append(spark, high.coalesce(1), "orders")
    files = store.manifest("orders")["files"]
    assert len(files) == 3 and all("price" in f["min"] for f in files)
    assert min(f["min"]["price"] for f in files) \
        == float(df.agg(F.min("price")).first()[0])
    preds = [("price", ">=", 100000)]
    rep = skipping_report(store, "orders", preds)
    assert rep["files_kept"] == 1
    _assert_same(read_where(store, spark, "orders", preds), high)


@pytest.mark.parametrize("partition_by", [None, ["o_orderstatus"]])
def test_read_where_plans_no_job(spark, store, partition_by):
    """read_where reads its pruned file set with the snapshot's recorded
    read-back schemas, so building the frame runs no Spark job (no schema
    inference per data directory), partitioned or not."""
    df = _orders(spark)
    for i in range(5):
        store.append(spark, df.filter(F.col("o_orderkey") % 5 == i), "orders",
                     partition_by=partition_by, stats_columns=["o_orderkey"])
    sc = spark.sparkContext
    group = f"read-where-plan-{partition_by}"
    sc.setJobGroup(group, "read_where planning")
    try:
        got = read_where(store, spark, "orders", [("o_orderkey", "<=", 1000)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    _assert_same(got.select(*df.columns), df.filter("o_orderkey <= 1000"))


def test_numeric_partition_path_pruning(spark, store):
    """Partition dirs like bucket=9 vs bucket=10 must compare numerically
    (regression: lexicographic '9' < '10' pruned matching files)."""
    df = _orders(spark).withColumn(
        "bucket", (F.col("o_orderkey") % 12).cast("int"))
    store.overwrite(spark, df, "orders", partition_by=["bucket"],
                    stats_columns=["o_orderkey"])
    preds = [("bucket", "<", "10")]
    got = read_where(store, spark, "orders", preds)
    _assert_same(got, store.read(spark, "orders").filter("bucket < '10'"))
    assert got.filter("bucket = 9").count() > 0  # the lexicographic victim


def test_read_where_empty_predicates_and_date_literal(spark, store):
    import datetime

    df = _orders(spark).repartitionByRange(4, "o_orderdate")
    store.overwrite(spark, df, "orders", stats_columns=["o_orderdate"])
    assert read_where(store, spark, "orders", []).count() == df.count()
    got = read_where(store, spark, "orders",
                     [("o_orderdate", ">=", datetime.date(1997, 1, 1))])
    _assert_same(got, store.read(spark, "orders")
                 .filter("o_orderdate >= '1997-01-01'"))


def test_zorder_string_column_raises(spark, store):
    store.overwrite(spark, _orders(spark), "orders")
    with pytest.raises(TypeError, match="o_orderstatus"):
        zorder_cluster(store, spark, "orders", ["o_orderstatus", "o_orderkey"])


def test_value_set_skipping_prunes_categories(spark, store):
    """Distinct-value sets prune = / IN predicates on a categorical column
    that min/max cannot touch (every file spans the same range)."""
    from projectone_spark.store.skipping import add_value_set_stats

    df = _orders(spark).withColumn(
        "bucket2", F.when(F.col("o_orderkey") % 2 == 0, "even").otherwise("odd"))
    # one commit per bucket value -> deterministically one file per value
    store.overwrite(spark, df.filter("bucket2 = 'even'").coalesce(1),
                    "orders", stats_columns=["o_orderkey"])
    store.append(spark, df.filter("bucket2 = 'odd'").coalesce(1), "orders")
    add_value_set_stats(store, "orders", ["bucket2", "o_orderstatus"])
    m = store.manifest("orders")
    assert m["set_columns"] == ["bucket2", "o_orderstatus"]
    assert all("bucket2" in (f.get("vals") or {}) for f in m["files"])

    rep = skipping_report(store, "orders", [("bucket2", "=", "even")])
    assert rep["files_kept"] < rep["files_total"]  # at least one pruned
    got = read_where(store, spark, "orders", [("bucket2", "=", "even")])
    _assert_same(got, df.filter("bucket2 = 'even'"))

    # IN over both values keeps everything; over a missing value prunes all
    rep_all = skipping_report(store, "orders",
                              [("bucket2", "in", ("even", "odd"))])
    assert rep_all["files_kept"] == rep_all["files_total"]
    rep_none = skipping_report(store, "orders", [("bucket2", "=", "nope")])
    assert rep_none["files_kept"] == 0
    got_none = read_where(store, spark, "orders", [("bucket2", "=", "nope")])
    assert got_none.count() == 0


def test_value_set_cap_records_nothing_for_wide_columns(spark, store):
    """A column whose per-file distinct count exceeds the cap records no
    set — pruning stays conservative and results stay exact."""
    from projectone_spark.store.skipping import add_value_set_stats

    df = _orders(spark)
    store.overwrite(spark, df, "orders", stats_columns=[])
    add_value_set_stats(store, "orders", ["o_orderkey"], cap=8)
    m = store.manifest("orders")
    assert all("o_orderkey" not in (f.get("vals") or {}) for f in m["files"])
    got = read_where(store, spark, "orders", [("o_orderkey", "=", 1)])
    _assert_same(got, df.filter("o_orderkey = 1"))


def test_value_set_in_predicate_sql_and_interval(spark, store):
    """IN prunes via intervals too (no sets recorded), and the residual
    SQL renders IN correctly."""
    from projectone_spark.store.skipping import predicates_to_sql

    assert predicates_to_sql([("c", "in", ("a", "b'c"))]) == \
        "(`c` IN ('a', 'b''c'))"
    df = _orders(spark)
    store.overwrite(spark, df.repartitionByRange(4, "o_orderkey")
                    .sortWithinPartitions("o_orderkey"),
                    "orders", stats_columns=["o_orderkey"])
    lo = int(df.agg(F.min("o_orderkey")).first()[0])
    rep = skipping_report(store, "orders", [("o_orderkey", "in", (lo,))])
    assert rep["files_kept"] < rep["files_total"]
    got = read_where(store, spark, "orders", [("o_orderkey", "in", (lo,))])
    _assert_same(got, df.filter(F.col("o_orderkey") == lo))


def test_set_columns_inline_on_commit_and_inherited(spark, store):
    """set_columns declared at overwrite builds the distinct-set index
    inline and appends inherit it — no post-commit indexing call needed."""
    df = _orders(spark)
    store.overwrite(spark, df.filter("o_orderstatus = 'O'").coalesce(1),
                    "orders", stats_columns=["o_orderkey"],
                    set_columns=["o_orderstatus"])
    store.append(spark, df.filter("o_orderstatus <> 'O'").coalesce(1),
                 "orders")  # set_columns inherited like stats_columns
    m = store.manifest("orders")
    assert m["set_columns"] == ["o_orderstatus"]
    assert all("o_orderstatus" in (f.get("vals") or {}) for f in m["files"])
    rep = skipping_report(store, "orders", [("o_orderstatus", "=", "O")])
    assert rep["files_kept"] < rep["files_total"]
    got = read_where(store, spark, "orders", [("o_orderstatus", "=", "O")])
    _assert_same(got, df.filter("o_orderstatus = 'O'"))


def test_datetime_literal_never_drops_matching_rows(spark, store):
    """Regression (r4 advice): value_set_stats stores temporal values as ISO
    strings, so a datetime/date predicate literal must match them — the old
    _eq_forms produced no common form and "provably excluded" a file that
    contained the exact value."""
    import datetime

    from projectone_spark.store.skipping import add_value_set_stats

    ev = spark.read.parquet(f"{SF}/events.parquet")
    first = ev.agg(F.min("ts")).first()[0]
    df = ev.withColumn("day", F.date_trunc("day", "ts").cast("timestamp"))
    day0 = datetime.datetime(first.year, first.month, first.day)
    # two files: day0 rows and the rest — the value set distinguishes them
    store.overwrite(spark, df.filter(F.col("day") == F.lit(day0)).coalesce(1),
                    "ev", stats_columns=["ts"])
    store.append(spark, df.filter(F.col("day") != F.lit(day0)).coalesce(1), "ev")
    add_value_set_stats(store, "ev", ["day"])
    m = store.manifest("ev")
    assert all("day" in (f.get("vals") or {}) for f in m["files"])

    want = df.filter(F.col("day") == F.lit(day0))
    got = read_where(store, spark, "ev", [("day", "=", day0)])
    _assert_same(got, want)  # the old set path returned 0 rows here
    # ...and the set still PRUNES the non-matching file
    rep = skipping_report(store, "ev", [("day", "=", day0)])
    assert rep["files_kept"] < rep["files_total"]

    # date literal against a timestamp-at-midnight set: same equivalence
    got_date = read_where(store, spark, "ev", [("day", "=", day0.date())])
    _assert_same(got_date, want)


def test_datetime_literal_interval_pruning(spark, store):
    """Datetime literals participate in min/max interval pruning (ISO
    normalization), instead of being kept-on-uncertainty."""
    import datetime

    ev = spark.read.parquet(f"{SF}/events.parquet")
    store.overwrite(spark, ev.repartitionByRange(4, "ts"),
                    "ev", stats_columns=["ts"])
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    cut = datetime.datetime(mid.year, mid.month, mid.day)
    got = read_where(store, spark, "ev", [("ts", ">=", cut)])
    _assert_same(got, ev.filter(F.col("ts") >= F.lit(cut)))
    rep = skipping_report(store, "ev", [("ts", ">=", cut)])
    assert rep["files_kept"] < rep["files_total"]


def test_in_predicate_rejects_strings_and_empty(spark, store):
    """Regression (r4 advice): a plain string IN value would iterate
    characters; an empty IN renders unparseable SQL. Both fail fast."""
    from projectone_spark.store.skipping import predicates_to_sql

    store.overwrite(spark, _orders(spark), "orders",
                    stats_columns=["o_orderstatus"])
    with pytest.raises(ValueError, match="plain str"):
        read_where(store, spark, "orders", [("o_orderstatus", "in", "OF")])
    with pytest.raises(ValueError, match="empty"):
        read_where(store, spark, "orders", [("o_orderstatus", "in", ())])
    with pytest.raises(ValueError, match="iterable"):
        predicates_to_sql([("o_orderstatus", "in", 7)])


def test_unknown_literal_type_keeps_file(spark, store):
    """A literal type the set-pruning logic can't normalize keeps the file
    (keep-on-uncertainty), mirroring _coerced's interval rule."""
    from projectone_spark.store.skipping import _set_excludes

    assert _set_excludes(["a", "b"], "c") is True  # provable exclusion
    assert _set_excludes(["a", "b"], object()) is False  # unknown → keep
    assert _set_excludes([1, 2], b"\x00") is False


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hst

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:
    import datetime as _dt

    _INT_LIT = hst.integers(min_value=-10, max_value=40_000)
    _DATE_LIT = hst.dates(min_value=_dt.date(1991, 1, 1),
                          max_value=_dt.date(2000, 12, 31))
    _TS_LIT = hst.datetimes(min_value=_dt.datetime(1991, 1, 1),
                            max_value=_dt.datetime(2000, 12, 31))
    _OPS = hst.sampled_from(["=", "<", "<=", ">", ">="])
    _PRED = hst.one_of(
        hst.tuples(hst.just("o_orderkey"), _OPS, _INT_LIT),
        hst.tuples(hst.just("o_orderdate"), _OPS, _DATE_LIT),
        hst.tuples(hst.just("o_orderdate"), _OPS, _TS_LIT),
        hst.tuples(hst.just("o_orderdate"), _OPS,
                   _DATE_LIT.map(lambda d: d.isoformat())),
        hst.tuples(hst.just("o_orderstatus"), hst.just("="),
                   hst.sampled_from(["O", "F", "P", "nope"])),
        hst.tuples(hst.just("o_orderstatus"), hst.just("in"),
                   hst.lists(hst.sampled_from(["O", "F", "P", "nope"]),
                             min_size=1, max_size=3, unique=True)
                   .map(tuple)),
    )

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(preds=hst.lists(_PRED, min_size=1, max_size=3))
    def test_read_where_equals_full_filter_property(spark, _skip_store, preds):
        """PROPERTY (r4, after the datetime set-pruning regression):
        for ANY conjunction of predicates over int/date/timestamp/
        string/IN literals, pruned read == full-scan filter, exactly.
        Pruning may keep extra files, never drop rows."""
        got = read_where(_skip_store, spark, "orders", preds)
        want = _skip_store.read(spark, "orders").filter(
            predicates_to_sql(preds))
        _assert_same(got, want)

    @pytest.fixture(scope="module")
    def _skip_store(spark, tmp_path_factory):
        """One clustered, stats- and set-indexed table shared by every
        hypothesis example (building it per-example would dominate)."""
        from projectone_spark.store.skipping import add_value_set_stats

        store = TableStore(str(tmp_path_factory.mktemp("prop") / "store"))
        df = _orders(spark).repartitionByRange(6, "o_orderdate")
        store.overwrite(spark, df, "orders",
                        stats_columns=["o_orderkey", "o_orderdate"])
        add_value_set_stats(store, "orders", ["o_orderstatus"])
        return store


def test_date_column_noon_datetime_literal_matches_spark_semantics(spark, store):
    """Review regression (r4): a DATE column compared to a datetime literal
    with a TIME PART — Spark casts the string literal to DATE (truncating),
    so pruning must not lexicographically exclude the boundary file.
    Pre-fix, both the interval and value-set paths pruned a min=max=
    1995-06-01 file for ``>= 1995-06-01 12:00``, silently losing rows."""
    import datetime

    from projectone_spark.store.skipping import add_value_set_stats

    orders = _orders(spark).withColumn(
        "od", F.col("o_orderdate").cast("date"))
    store.overwrite(spark, orders.repartitionByRange(4, "od"),
                    "ord", stats_columns=["od"])
    lo, hi = orders.agg(F.min("od"), F.max("od")).first()
    mid = lo + (hi - lo) / 2
    noon = datetime.datetime(mid.year, mid.month, mid.day, 12, 0, 0)
    for op in (">=", "<=", ">", "<", "="):
        got = read_where(store, spark, "ord", [("od", op, noon)])
        want = _orders(spark).withColumn(
            "od", F.col("o_orderdate").cast("date")) \
            .filter(F.expr(f"od {'=' if op == '=' else op} "
                           f"'{noon.isoformat(sep=' ')}'"))
        _assert_same(got, want)
    # value-set path: same truncation semantics for '='
    add_value_set_stats(store, "ord", ["od"])
    got = read_where(store, spark, "ord", [("od", "=", noon)])
    want = orders.filter(F.col("od") == F.lit(noon.date()))
    _assert_same(got, want)


def test_in_predicate_generator_is_materialized(spark, store):
    """Review regression (r4): a generator-valued 'in' passed validation
    (len(list(val)) consumed it) then pruned every file and rendered
    ``IN ()``. The predicates must be materialized once, up front."""
    df = _orders(spark).repartitionByRange(4, "o_orderkey")
    store.overwrite(spark, df, "orders", stats_columns=["o_orderstatus"])
    statuses = ["O", "F"]
    got = read_where(store, spark, "orders",
                     [("o_orderstatus", "in", (s for s in statuses))])
    _assert_same(got, _orders(spark).filter(F.col("o_orderstatus").isin(statuses)))


def test_s23_oracle_price_bound_uses_floor_like_python_int(duck):
    """ADVICE r8 (medium): DuckDB ``CAST(x AS BIGINT)`` rounds half-up while
    the s23 Spark driver truncates via ``int(row[1])``, so a max totalprice
    with fractional part >= .5 and integer part = 3 (mod 4) would shift the
    ``// 4`` bound by 1 between the engines. The oracle must floor() first
    so both derive the identical integer bound for ANY max."""
    from projectone_spark.queries import REGISTRY, queries

    queries()
    oracle = REGISTRY["s23_zorder_skipping"].oracle
    assert "CAST(floor(max(o_totalprice)) AS BIGINT)" in oracle
    for mx in (3.5, 3.49, 7.999, 11.5, 499705.05, 499999.75):
        got = duck.execute(
            "SELECT CAST(floor(max(p)) AS BIGINT) // 4 "
            "FROM (SELECT CAST(? AS DOUBLE) AS p)", [mx]).fetchone()[0]
        assert got == int(mx) // 4, mx
        # and the pre-fix form really does diverge at the .5 boundary
    assert duck.execute(
        "SELECT CAST(3.5 AS BIGINT) // 4").fetchone()[0] == 1 != int(3.5) // 4
