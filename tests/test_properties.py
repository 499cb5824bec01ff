"""Property-based invariants (hypothesis) for the merge library and CDC.

The SCD2 exactly-one-active-row-per-key invariant is the reference's
hardest correctness property (SURVEY §7.5); here it is checked under
randomized multi-batch histories instead of hand-picked cases.
"""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from projectone_spark.cdc import CdcState, resolve_cdc
from projectone_spark.writers.hashing import ACTIVE, VALID_FROM, VALID_TO
from projectone_spark.writers.merge import scd1_merge, scd2_apply

KEYS = st.integers(min_value=1, max_value=5)
VALS = st.integers(min_value=0, max_value=3)
BATCH = st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=6,
                 unique_by=lambda t: t[0])
SLOW = settings(max_examples=8, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture,
                                       HealthCheck.too_slow])


def _df(spark, batch):
    return spark.createDataFrame([(k, v) for k, v in batch], "id long, v long")


@given(batches=st.lists(BATCH, min_size=1, max_size=3))
@SLOW
def test_scd2_invariants_under_random_histories(spark, batches):
    ts = ["2024-01-01", "2024-02-01", "2024-03-01"]
    target = None
    seen_keys: set[int] = set()
    for i, batch in enumerate(batches):
        seen_keys |= {k for k, _ in batch}
        target = scd2_apply(_df(spark, batch), target, ["id"],
                            valid_from=F.lit(ts[i]).cast("timestamp"))
    rows = target.collect()

    # exactly one active row per key ever seen, none for unseen keys
    active = [r for r in rows if r[ACTIVE] == "Y"]
    assert sorted(r["id"] for r in active) == sorted(seen_keys)

    # active rows carry each key's LAST written value
    last = {}
    for batch in batches:
        for k, v in batch:
            last[k] = v
    assert {r["id"]: r["v"] for r in active} == last

    # closed rows end exactly where a successor begins (no gaps/overlaps)
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["id"], []).append(r)
    for k, chain in by_key.items():
        chain.sort(key=lambda r: r[VALID_FROM])
        for a, b in zip(chain, chain[1:]):
            assert a[ACTIVE] == "N"
            assert a[VALID_TO] == b[VALID_FROM]
        assert chain[-1][ACTIVE] == "Y"


def _scd2_model(batches, days, history_start=None):
    """Plain-Python SCD2: per key, close the active version when the value
    changes and open a new one; brand-new keys open at ``history_start``
    when given. Rows are (id, v, valid_from, valid_to, active)."""
    from datetime import datetime

    sentinel = datetime(9999, 12, 31)
    rows: list[list] = []
    for batch, day in zip(batches, days):
        for k, v in batch:
            cur = [r for r in rows if r[0] == k and r[4] == "Y"]
            if cur and cur[0][1] == v:
                continue
            if cur:
                cur[0][3:] = [day, "N"]
            start = history_start if history_start and not cur else day
            rows.append([k, v, start, sentinel, "Y"])
    return sorted(map(tuple, rows))


@given(batches=st.lists(BATCH, min_size=1, max_size=3),
       mapped=st.booleans(), renamed=st.booleans(), started=st.booleans())
@SLOW
def test_write_scd2_matches_python_model(spark, tmp_path_factory, batches,
                                         mapped, renamed, started):
    """``write_scd2`` increments into a ``TableStore`` (new, changed,
    unchanged and repeated keys) equal the Python model row for row, both
    plain and with the drawn ``active_mapping`` / ``rename`` /
    ``history_start`` options."""
    from datetime import datetime

    from projectone_spark.store import TableStore
    from projectone_spark.writers import write_scd2

    days = [datetime(2024, m, 1) for m in (1, 2, 3)]
    plain = {"active_mapping": None, "rename": None, "history_start": None}
    drawn = {"active_mapping": {"Y": "1", "N": "0"} if mapped else None,
             "rename": {ACTIVE: "is_active", VALID_FROM: "start_ts"}
             if renamed else None,
             "history_start": datetime(1900, 1, 1) if started else None}
    for opts in (plain, drawn):
        store = TableStore(str(tmp_path_factory.mktemp("scd2")))
        hs = opts["history_start"]
        for batch, day in zip(batches, days):
            write_scd2(spark, store, _df(spark, batch), "t", key_cols=["id"],
                       valid_from=F.lit(day),
                       active_mapping=opts["active_mapping"],
                       rename=opts["rename"],
                       history_start=None if hs is None else F.lit(hs))
        names = {ACTIVE: ACTIVE, VALID_FROM: VALID_FROM,
                 **(opts["rename"] or {})}
        flags = opts["active_mapping"] or {"Y": "Y", "N": "N"}
        got = sorted((r["id"], r["v"], r[names[VALID_FROM]], r[VALID_TO],
                      r[names[ACTIVE]])
                     for r in store.read(spark, "t").collect())
        assert got == [(*r[:4], flags[r[4]])
                       for r in _scd2_model(batches, days, hs)]


@given(batch=BATCH)
@SLOW
def test_scd1_idempotent(spark, batch):
    t0 = F.lit("2024-01-01").cast("timestamp")
    t1 = F.lit("2024-02-01").cast("timestamp")
    once = scd1_merge(_df(spark, batch), None, ["id"], now=t0)
    twice = scd1_merge(_df(spark, batch), once, ["id"], now=t1)
    got_once = sorted((r["id"], r["v"], r[VALID_FROM]) for r in once.collect())
    got_twice = sorted((r["id"], r["v"], r[VALID_FROM]) for r in twice.collect())
    assert got_once == got_twice  # unchanged re-apply keeps valid_from too


@given(offsets=st.lists(st.integers(0, 50), min_size=0, max_size=12),
       split=st.integers(0, 50))
@SLOW
def test_cdc_two_runs_partition_the_data(spark, offsets, split):
    """Run 1 over a prefix snapshot + run 2 after more data arrives must
    cover every row exactly once (no loss, no double-read)."""
    first = sorted(set(o for o in offsets if o <= split))
    all_vals = sorted(set(offsets))
    df1 = spark.createDataFrame([(i, o) for i, o in enumerate(first)],
                                "id long, offset long")
    pred1, st1 = resolve_cdc(df1, "offset")
    read1 = {r["offset"] for r in df1.filter(pred1).collect()}
    assert read1 == set(first)

    df2 = spark.createDataFrame([(i, o) for i, o in enumerate(all_vals)],
                                "id long, offset long")
    prev = CdcState.from_json(st1.to_json())
    pred2, _ = resolve_cdc(df2, "offset", prev)
    read2 = {r["offset"] for r in df2.filter(pred2).collect()}
    if first:
        assert read2 == {o for o in all_vals if o > max(first)}
    assert read1 | read2 == set(all_vals)
    assert read1 & read2 == set()


@contextmanager
def _broadcast_threshold(spark, value: str | None):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold`` set to
    ``value`` (``None`` leaves it), then restore it. ``-1`` sends
    ``connected_components`` to its label-propagation rounds."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["driver", "rounds"])
def test_connected_components_known_graph(spark, threshold):
    from projectone_spark.functions.dedup import connected_components

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "doc_id_a long, doc_id_b long")
    with _broadcast_threshold(spark, threshold):
        got = {r["doc_id"]: r["component"]
               for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_nonconvergence_raises(spark):
    from projectone_spark.functions.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_id_a long, doc_id_b long")
    with _broadcast_threshold(spark, "-1"):
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(chain, max_iters=2)
        got = connected_components(chain, max_iters=15).collect()
        assert {r["component"] for r in got} == {0}
    # the driver path is exact: max_iters bounds the rounds only
    got = connected_components(chain, max_iters=2).collect()
    assert {r["component"] for r in got} == {0}


def test_connected_components_driver_path_jobs(spark):
    """A small edge list is one collect job, and the labels come back as a
    local relation that a collect reads with no job (the rounds ran 8 jobs
    a round, ~190 on this 20-edge chain)."""
    import uuid

    from projectone_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_id_a long, doc_id_b long")
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = connected_components(edges).collect()
    finally:
        sc.setJobGroup("", "")
    assert {r["component"] for r in got} == {0} and len(got) == 21
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def _union_find_reference(edges, n):
    """Per-edge dict union-find: each node's smallest component member."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n)]


@given(n=st.integers(min_value=1, max_value=40), data=st.data())
@settings(max_examples=200, deadline=None)
def test_component_minima_matches_dict_union_find(n, data):
    import numpy as np

    from projectone_spark.functions.dedup import component_minima

    node = st.integers(min_value=0, max_value=n - 1)
    edges = data.draw(st.lists(st.tuples(node, node), max_size=3 * n))
    u = np.array([a for a, _ in edges], dtype=np.int64)
    v = np.array([b for _, b in edges], dtype=np.int64)
    assert component_minima(u, v, n).tolist() == \
        _union_find_reference(edges, n)


#: node ids for the two-path property: a small domain so components form,
#: NULLs, and strings whose code-point order differs from UTF-16 order
CC_LONG = st.one_of(st.none(), st.integers(min_value=-3, max_value=6))
CC_STRING = st.one_of(st.none(), st.sampled_from(
    ["", "a", "Z", "ab", "\u00e9", "\ufb00", "\U0001d538", "a\u00e9"]))


@given(data=st.data(), as_string=st.booleans())
@SLOW
def test_connected_components_driver_equals_rounds(spark, data, as_string):
    """For random edge lists (self-loops, duplicate and reversed edges,
    NULL endpoints; long and string ids) the driver union-find returns the
    label-propagation rounds' rows and schema exactly."""
    from projectone_spark.functions.dedup import connected_components

    ids = CC_STRING if as_string else CC_LONG
    pairs = data.draw(st.lists(st.tuples(ids, ids), max_size=10))
    dup = data.draw(st.integers(min_value=0, max_value=len(pairs)))
    rev = data.draw(st.integers(min_value=0, max_value=len(pairs)))
    pairs += pairs[:dup] + [(b, a) for a, b in pairs[:rev]]
    kind = "string" if as_string else "long"
    edges = spark.createDataFrame(pairs, f"doc_id_a {kind}, doc_id_b {kind}")
    driver = connected_components(edges)
    with _broadcast_threshold(spark, "-1"):
        rounds = connected_components(edges, max_iters=50)
        want = sorted(map(tuple, rounds.collect()), key=repr)
    assert driver.schema == rounds.schema
    assert sorted(map(tuple, driver.collect()), key=repr) == want


MERGE_ROWS = st.lists(st.tuples(KEYS, st.none() | VALS), min_size=0,
                      max_size=6, unique_by=lambda t: t[0])


def _cmp(a, b, op):
    """SQL comparison: NULL (None) when either side is NULL."""
    return None if a is None or b is None else op(a, b)


#: (SQL condition, model) pairs; a model returns True, False or None (NULL)
MATCHED_CONDITIONS = [
    (None, lambda s, t: True),
    ("source.v > target.v", lambda s, t: _cmp(s, t, int.__gt__)),
    ("target.v < 2", lambda s, t: _cmp(t, 2, int.__lt__)),
]
NMBS_DELETES = [
    (False, lambda t: False),
    (True, lambda t: True),
    ("target.v > 1", lambda t: _cmp(t, 1, int.__gt__)),
]


@given(target=MERGE_ROWS, source=MERGE_ROWS,
       del_thresh=st.integers(min_value=0, max_value=4),
       matched=st.sampled_from(range(len(MATCHED_CONDITIONS))),
       nmbs=st.sampled_from(range(len(NMBS_DELETES))))
@example(target=[(1, 1), (2, 2)], source=[(1, None), (2, 0)], del_thresh=1,
         matched=0, nmbs=0)
@example(target=[(1, 1), (2, None)], source=[(1, 1)], del_thresh=0,
         matched=0, nmbs=2)
@SLOW
def test_merge_into_matches_python_model(spark, tmp_path_factory, target,
                                         source, del_thresh, matched, nmbs):
    """merge_into (conditional update + conditional delete + insert +
    not-matched-by-source delete) must equal the trivially-correct dict
    model for any (target, source) pair, values NULL included: a clause
    whose condition is NULL does not fire."""
    from projectone_spark.store import TableStore
    from projectone_spark.store.dml import merge_into

    store = TableStore(str(tmp_path_factory.mktemp("mrg")))
    store.overwrite(spark, _df(spark, target or [(999, 0)]), "t")
    if not target:
        from projectone_spark.store.dml import delete_where
        delete_where(store, spark, "t", [("id", "==", 999)])
    m_sql, m_model = MATCHED_CONDITIONS[matched]
    d_sql, d_model = NMBS_DELETES[nmbs]
    merge_into(store, spark, "t", _df(spark, source), ["id"],
               when_matched_update={"v": "source.v + 100"},
               matched_condition=m_sql,
               when_matched_delete=f"source.v < {del_thresh}",
               when_not_matched_insert=True,
               when_not_matched_by_source_delete=d_sql)

    model = {k: v for k, v in target
             if k in dict(source) or d_model(v) is not True}
    for k, v in source:
        if k not in model:
            model[k] = v
        elif _cmp(v, del_thresh, int.__lt__) is True:
            del model[k]
        elif m_model(v, model[k]) is True:
            model[k] = None if v is None else v + 100
    got = {r["id"]: r["v"] for r in store.read(spark, "t").collect()}
    assert got == model


@given(rows=st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=8),
       cut=st.integers(min_value=0, max_value=3))
@SLOW
def test_delete_update_match_filter_model(spark, tmp_path_factory, rows, cut):
    """delete_where + update_where equal plain filter/map models, with
    duplicate ids and arbitrary predicates (multiset semantics)."""
    from collections import Counter

    from projectone_spark.store import TableStore
    from projectone_spark.store.dml import delete_where, update_where

    store = TableStore(str(tmp_path_factory.mktemp("dml")))
    store.overwrite(spark, _df(spark, rows).repartition(3), "t",
                    stats_columns=["v"])
    delete_where(store, spark, "t", [("v", "<", cut)])
    kept = [(k, v) for k, v in rows if not v < cut]
    update_where(store, spark, "t", [("v", ">=", cut)], {"v": "v * 10"})
    expect = Counter((k, v * 10) for k, v in kept)
    got = Counter((r["id"], r["v"]) for r in store.read(spark, "t").collect())
    assert got == expect


PARTS = st.sampled_from(["p0", "p1", "p2"])
PART_ROWS = st.lists(st.tuples(KEYS, PARTS, VALS), min_size=1, max_size=5)


@given(appends=st.lists(PART_ROWS, min_size=1, max_size=3),
       replaced=st.sets(PARTS, min_size=1),
       new=st.lists(st.tuples(KEYS, VALS), max_size=4),
       data=st.data())
@SLOW
def test_selective_overwrite_matches_python_model(spark, tmp_path_factory,
                                                  appends, replaced, new,
                                                  data):
    """selective_overwrite(partition_values=...) over a table built from
    1-3 appends (so untouched partitions span several data directories)
    equals {rows outside the replaced partitions} + the source rows."""
    from collections import Counter

    from projectone_spark.store import TableStore

    schema = "id long, grp string, v long"
    store = TableStore(str(tmp_path_factory.mktemp("sel")))
    for rows in appends:
        store.append(spark, spark.createDataFrame(rows, schema), "t",
                     partition_by=["grp"])
    src = [(k, data.draw(st.sampled_from(sorted(replaced))), v)
           for k, v in new]
    store.selective_overwrite(spark, spark.createDataFrame(src, schema), "t",
                              partition_values={"grp": sorted(replaced)})
    expect = Counter([r for rows in appends for r in rows
                      if r[1] not in replaced] + src)
    got = Counter((r["id"], r["grp"], r["v"])
                  for r in store.read(spark, "t").collect())
    assert got == expect


# -- r4 corpus operators vs pure-Python models --------------------------------

WORDS = st.lists(st.sampled_from(["the", "a", "data", "spark", "query",
                                  "tablex", "rowset", "batching"]),
                 min_size=0, max_size=30)


def _pynorm(text: str) -> list[str]:
    import re as _re

    norm = _re.sub(r" +", " ", _re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    return norm.split(" ") if norm else []


@given(docs=st.lists(WORDS, min_size=1, max_size=6))
@SLOW
def test_gopher_rules_match_python_model(spark, docs):
    from projectone_spark.functions.text import STOPWORDS, gopher_rules

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    got = {r["doc_id"]: r.asDict()
           for r in gopher_rules(
               spark.createDataFrame(rows, "doc_id long, text string"),
               min_words=3).collect()}
    for i, text in rows:
        toks = _pynorm(text)
        n = len(toks)
        assert got[i]["n_words"] == n
        if n:
            assert got[i]["mean_word_len"] == sum(map(len, toks)) / n
            top = max(toks.count(w) for w in set(toks))
            assert got[i]["top_word_frac"] == top / n
        assert got[i]["n_stopwords"] == len(set(toks) & set(STOPWORDS))


@given(docs=st.lists(WORDS, min_size=1, max_size=5))
@SLOW
def test_cross_doc_ngrams_match_bruteforce(spark, docs):
    from projectone_spark.functions.dedup import cross_doc_ngram_dedup

    n = 3
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    grams = {i: {" ".join(toks[j:j + n])
                 for j in range(len(toks) - n + 1)}
             for i, (_, t) in zip(range(len(rows)), rows)
             for toks in [_pynorm(t)]}
    counts: dict[str, int] = {}
    for gs in grams.values():
        for g in gs:
            counts[g] = counts.get(g, 0) + 1
    got = {r["doc_id"]: r.asDict()
           for r in cross_doc_ngram_dedup(
               spark.createDataFrame(rows, "doc_id long, text string"),
               n=n).collect()}
    for i, gs in grams.items():
        if not gs:
            assert i not in got
            continue
        shared = sum(1 for g in gs if counts[g] > 1)
        assert got[i]["n_grams"] == len(gs)
        assert got[i]["n_shared"] == shared


@given(rows=st.lists(st.tuples(st.integers(0, 500),
                               st.sampled_from(["a", "b", "c"]),
                               st.integers(1, 50)),
                     min_size=2, max_size=25,
                     unique_by=lambda t: t[0]),
       cap=st.sampled_from([1.0, 2.0, 4.0]))
@SLOW
def test_mixture_rebalance_conserves_and_caps(spark, rows, cap):
    from projectone_spark.functions.sampling import mixture_rebalance

    df = spark.createDataFrame(rows, "doc_id long, source string, toks long")
    out = {r["source"]: r
           for r in mixture_rebalance(df, max_upsample=cap).collect()}
    total = sum(t for _, _, t in rows)
    groups = {s for _, s, _ in rows}
    target = total / len(groups)
    for s, r in out.items():
        gtoks = sum(t for _, g, t in rows if g == s)
        gdocs = sum(1 for _, g, t in rows if g == s)
        assert r["n_docs"] == gdocs and r["tokens_in"] == gtoks
        assert r["weight"] == min(cap, target / gtoks)
        # copies bounded by floor(w) and ceil(w) per doc
        import math

        w = r["weight"]
        assert gdocs * math.floor(w) <= r["n_copies"] <= gdocs * math.ceil(w)


# -- round-6 corpus operators -------------------------------------------------

WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "qzx", "wvy"])
DOC = st.lists(WORDS, min_size=1, max_size=6).map(" ".join)


@given(texts=st.lists(DOC, min_size=1, max_size=5),
       k=st.integers(min_value=2, max_value=3))
@SLOW
def test_unigram_surprise_invariant_under_corpus_duplication(spark, texts, k):
    """Duplicating the whole corpus k× must leave every document's score
    untouched: N→kN and c_t→k·c_t cancel even under integer division
    (floor(k·a / k·b) == floor(a/b)) — the property that makes the score
    comparable across corpus snapshots of different sizes."""
    from projectone_spark.functions.text import unigram_surprise

    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    dup = spark.createDataFrame(
        [(i + j * 1000, t) for j in range(k)
         for i, t in enumerate(texts)], "doc_id long, text string")
    one = {r["doc_id"]: (r["surprise_micro"], r["n_tokens"])
           for r in unigram_surprise(base).collect()}
    many = {r["doc_id"]: (r["surprise_micro"], r["n_tokens"])
            for r in unigram_surprise(dup).collect()}
    for i in one:
        for j in range(k):
            assert many[i + j * 1000] == one[i]


@given(texts=st.lists(DOC, min_size=1, max_size=5),
       bench_texts=st.lists(DOC, min_size=1, max_size=3))
@SLOW
def test_bloom_never_false_negative_on_random_corpora(spark, texts,
                                                      bench_texts):
    from projectone_spark.functions.sampling import bloom_contamination

    corpus = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(1000 + i, t, "ev") for i, t in enumerate(bench_texts)],
        "doc_id long, text string, source string")
    for r in bloom_contamination(corpus, bench, m_bits=256).collect():
        assert r["n_false_negatives"] == 0
        assert r["n_shingles_bloom"] >= r["n_shingles_exact"]


@given(texts=st.lists(DOC, min_size=2, max_size=6),
       split=st.integers(min_value=2, max_value=3))
@SLOW
def test_lsh_probe_accumulation_equals_batch_pairs(spark, texts, split):
    from projectone_spark.functions.dedup import (
        lsh_candidate_pairs,
        lsh_probe_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    want = sorted(map(tuple, lsh_candidate_pairs(docs).collect()))
    got, base = [], None
    for j in range(split):
        sigs = (minhash_signatures(docs.filter(F.col("doc_id") % split == j))
                .withColumn("band", F.substring(F.col("mh0"), 1, 2))
                .localCheckpoint(eager=True))
        if base is None:
            base = spark.createDataFrame([], sigs.schema)
        got.extend(map(tuple, lsh_probe_pairs(base, sigs).collect()))
        base = base.unionByName(sigs)
    assert sorted(got) == want
