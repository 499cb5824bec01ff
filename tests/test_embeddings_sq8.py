"""Scalar-int8 quantization (SQ8) funnel + the recall@k audit: code
range/clamp properties, full-shortlist equality with brute force (the
e09 adjudication technique), and exact recall arithmetic."""

import random

import pyspark.sql.functions as F
import pytest

from projectone_spark.functions.embeddings import (
    knn_bruteforce,
    knn_recall,
    knn_sq8,
    sq8_bounds,
    sq8_codes,
)

from tests.conftest import SF_DIR as SF


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_sq8_codes_range_and_extremes(spark):
    emb = _emb(spark).select(F.col("vec_id"),
                             F.col("embedding").alias("__vec"))
    bounds = sq8_bounds(emb, 64, vec_col="__vec")
    coded = (emb.crossJoin(F.broadcast(bounds))
             .select("vec_id", sq8_codes(F.col("__vec"), 64).alias("c")))
    stats = coded.select(
        F.min(F.array_min("c")).alias("lo"),
        F.max(F.array_max("c")).alias("hi"),
        F.sum(F.size("c")).alias("n")).first()
    assert stats["lo"] >= 0 and stats["hi"] <= 255
    assert stats["hi"] >= 250  # some coordinate sits at/near its max bound
    assert stats["n"] == emb.count() * 64
    # the corpus minimum of every dimension quantizes to code 0
    mins = coded.agg(F.min(F.array_min("c"))).first()[0]
    assert mins == 0


def test_sq8_constant_dimension_codes_zero(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0]), (3, [1.0, 6.0])],
        "vec_id bigint, embedding array<float>")
    src = df.select("vec_id", F.col("embedding").alias("__vec"))
    bounds = sq8_bounds(src, 2, vec_col="__vec")
    rows = (src.crossJoin(F.broadcast(bounds))
            .select("vec_id", sq8_codes(F.col("__vec"), 2).alias("c"))
            .collect())
    for r in rows:
        assert r["c"][0] == 0  # constant dim -> degenerate single code
    by_id = {r["vec_id"]: r["c"][1] for r in rows}
    assert by_id[1] == 0 and by_id[2] == 255 and 0 < by_id[3] < 255


def test_sq8_bounds_validates_dims(spark):
    with pytest.raises(ValueError, match="dims must be positive"):
        sq8_bounds(_emb(spark), 0)


def test_sq8_full_shortlist_equals_bruteforce(spark):
    """With the shortlist covering the whole corpus, the funnel's rerank
    sees every candidate — its top-k must reproduce exact brute force
    bit-for-bit (stage-1 ordering then cannot lose a true neighbor)."""
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    n = emb.count()
    full = knn_sq8(emb, qs, k=5, shortlist=n, dims=64)
    exact = knn_bruteforce(emb, qs, k=5)
    got = sorted((r["query_id"], r["neighbor_id"], r["score"], r["rank"])
                 for r in full.collect())
    want = sorted((r["query_id"], r["neighbor_id"], r["score"], r["rank"])
                  for r in exact.collect())
    assert got == want


def test_sq8_recall_floor_and_exact_scores(spark):
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    approx = knn_sq8(emb, qs, k=5, shortlist=25, dims=64).collect()
    exact = knn_bruteforce(emb, qs, k=5).collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in approx}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact}
    # 8-bit magnitude-preserving codes beat sign bits; demand a high floor
    assert len(a & e) / len(e) >= 0.7
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["score"]
                    for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:  # rerank scores are exact cosines
            assert r["score"] == exact_scores[key]


def test_knn_recall_arithmetic(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (1, 14),
         (2, 20), (2, 21), (2, 22), (2, 23), (2, 24)],
        "query_id bigint, neighbor_id bigint")
    # query 1: 3/5 recovered; query 2: 0/5
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 99), (1, 98),
         (2, 90), (2, 91), (2, 92), (2, 93), (2, 94)],
        "query_id bigint, neighbor_id bigint")
    rows = {r["query_id"]: r for r in
            knn_recall(exact, approx, "m", k=5).collect()}
    assert rows[1]["n_hit"] == 3 and rows[1]["recall_micro"] == 600000
    assert rows[1]["recall"] == 0.6
    assert rows[2]["n_hit"] == 0 and rows[2]["recall"] == 0.0
    assert all(r["method"] == "m" for r in rows.values())


def test_knn_recall_perfect_and_validation(spark):
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = knn_bruteforce(emb, qs, k=5)
    rows = knn_recall(exact, exact, "self", k=5).collect()
    assert rows and all(r["recall_micro"] == 1000000 for r in rows)
    with pytest.raises(ValueError, match="k must be positive"):
        knn_recall(exact, exact, "self", k=0)


@pytest.mark.parametrize("dims", [1, 3, 4, 7, 16])
def test_sq8_pack_words_string_path_bit_identical(spark, dims):
    from projectone_spark.functions.embeddings import sq8_pack_words

    rnd = random.Random(5)
    rows = [(i, [rnd.randrange(256) for _ in range(dims)])
            for i in range(20)]
    rows.append((20, [0] * dims))
    rows.append((21, [255] * dims))
    df = spark.createDataFrame(rows, "vec_id long, __code array<int>")
    got = df.select("vec_id", *[w.alias(f"w{j:02d}") for j, w in
                                enumerate(sq8_pack_words("__code", dims))])
    want = df.select("vec_id", *[w.alias(f"w{j:02d}") for j, w in
                                 enumerate(sq8_pack_words(F.col("__code"),
                                                          dims))])
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))


def test_sq8_codes_string_path_bit_identical(spark):
    from projectone_spark.functions.embeddings import sq8_bounds, sq8_codes

    dims = 9
    rnd = random.Random(13)
    rows = [(i, [rnd.uniform(-3.0, 3.0) for _ in range(dims)])
            for i in range(30)]
    rows.append((30, [7.5] * dims))   # constant rows force mx == mn dims
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    const = spark.createDataFrame([(0, [1.0] * dims)],
                                  "vec_id long, embedding array<double>")
    for frame in (df, const):
        bounds = frame.sparkSession.createDataFrame([(1,)], "x int") \
            .crossJoin(sq8_bounds(frame, dims=dims)).drop("x")
        base = frame.crossJoin(F.broadcast(bounds))
        got = base.select("vec_id",
                          sq8_codes("embedding", dims).alias("c")).collect()
        want = base.select("vec_id",
                           sq8_codes(F.col("embedding"), dims).alias("c")
                           ).collect()
        assert [(r["vec_id"], list(r["c"])) for r in got] \
            == [(r["vec_id"], list(r["c"])) for r in want]
