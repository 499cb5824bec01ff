"""IVF ANN: determinism, recall floor vs exact brute force, and the
JVM-only plan claim (no Python eval in the search path)."""

import contextlib
import io
import math
import random

import pyspark.sql.functions as F

from projectone_spark.functions.embeddings import (
    ivf_probes, ivf_train, knn_bruteforce, knn_ivf,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_train_deterministic_unit_norm(spark):
    emb = _emb(spark)
    c1 = ivf_train(emb, n_clusters=8, sample_size=400)
    c2 = ivf_train(emb, n_clusters=8, sample_size=400)
    assert c1 == c2
    assert len(c1) == 8 and len(c1[0]) == 64
    for c in c1:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9


def test_ivf_probes_orders_by_similarity(spark):
    emb = _emb(spark)
    centroids = ivf_train(emb, n_clusters=8, sample_size=400)
    row = (emb.limit(1)
           .select(ivf_probes(F.col("embedding"), centroids, 8).alias("p"))
           .first())
    assert sorted(row["p"]) == list(range(8))  # all cells, each once


def test_ivf_recall_floor_vs_bruteforce(spark):
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    approx = knn_ivf(emb, qs, k=5, n_clusters=8, nprobe=3)
    exact = knn_bruteforce(emb, qs, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.5
    # approximate scores are exact cosines — only the candidate set shrinks
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["score"]
                    for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["score"] - exact_scores[key]) < 1e-9


def test_ivf_full_probe_equals_bruteforce(spark):
    # nprobe = n_clusters → every cell searched → exact results
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    full = knn_ivf(emb, qs, k=5, n_clusters=4, nprobe=4)
    exact = knn_bruteforce(emb, qs, k=5)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))


def test_ivf_search_plan_is_jvm_only(spark):
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        knn_ivf(emb, qs, k=5, n_clusters=4, nprobe=2).explain("formatted")
    plan = buf.getvalue()
    assert "EvalPython" not in plan          # training collects; search doesn't
    assert "BroadcastHashJoin" in plan       # probe side broadcast on cell id


def test_pq_recall_floor(spark):
    """PQ + exact re-rank must recover most of the exact top-5, and the
    ADC estimate must correlate with the true cosine (codes are lossy,
    the refined scores are exact)."""
    from projectone_spark.functions.embeddings import knn_bruteforce, knn_pq

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in knn_bruteforce(emb, queries, k=5).collect()}
    approx = knn_pq(emb, queries, k=5, m=8, n_codes=16)
    rows = approx.collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, f"PQ recall {recall:.2f} below floor"
    # refined scores are exact cosines: every returned score must match
    # the brute-force score for the same pair
    bf = {(r["query_id"], r["neighbor_id"]): r["score"]
          for r in knn_bruteforce(emb, queries, k=500).collect()}
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(bf[key] - r["score"]) < 1e-5


def test_pq_codes_shape(spark):
    from projectone_spark.functions.embeddings import pq_encode, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb, m=8, n_codes=16)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    codes = (emb.select(pq_encode(F.col("embedding"), books).alias("c"))
             .collect())
    for r in codes:
        assert len(r["c"]) == 8
        assert all(0 <= x < 16 for x in r["c"])


def test_seed_centroids_deterministic_lowest_ids(spark):
    from projectone_spark.functions.embeddings import seed_centroids

    emb = _emb(spark)
    cents = seed_centroids(emb, k=8)
    ids = [c for c, _ in cents]
    low = [r[0] for r in
           emb.select("vec_id").orderBy("vec_id").limit(8).collect()]
    assert ids == low
    assert cents == seed_centroids(emb, k=8)


def test_assign_cell_matches_numpy_argmax(spark):
    import numpy as np

    from projectone_spark.functions.embeddings import assign_cell, seed_centroids

    emb = _emb(spark)
    cents = seed_centroids(emb, k=8)
    got = {r[0]: r[1] for r in
           emb.select("vec_id",
                      assign_cell(F.col("embedding"), cents).alias("cell"))
           .collect()}
    C = np.array([c for _, c in cents], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    cids = np.array([cid for cid, _ in cents])
    for r in emb.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        scores = Cn @ v  # |v| drops out of the argmax
        assert got[r["vec_id"]] == cids[int(np.argmax(scores))]


def test_assign_cell_tie_breaks_to_lowest_cell_id(spark):
    from projectone_spark.functions.embeddings import assign_cell

    # two identical centroids -> identical scores -> lowest cid must win
    cents = [(7, [1.0, 0.0]), (3, [0.0, 1.0]), (9, [1.0, 0.0])]
    df = spark.createDataFrame([([1.0, 0.0],)], "embedding array<float>")
    assert df.select(assign_cell(F.col("embedding"), cents)).first()[0] == 7


def test_assign_cell_plan_is_scan_side_codegen(spark):
    import contextlib
    import io

    from projectone_spark.functions.embeddings import assign_cell, seed_centroids

    emb = _emb(spark)
    cents = seed_centroids(emb, k=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        (emb.select("vec_id", assign_cell(F.col("embedding"), cents)
                    .alias("cell"))
         .explain("formatted"))
    plan = buf.getvalue()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan  # assignment never shuffles the corpus


def test_assign_cell_literal_and_join_paths_agree(spark):
    """e10's literal scan-side argmax and e11's broadcast-join argmax
    must produce bit-identical assignments (same dot/|c| doubles, same
    lowest-cid tie-break) — the claim that lets a caller switch paths
    on k freely."""
    import pyspark.sql.functions as F2

    from projectone_spark.functions.embeddings import (
        assign_cell,
        assign_cell_join,
        seed_centroids,
    )

    emb = _emb(spark)
    cents = seed_centroids(emb, k=16)
    vecs = emb.select(
        "vec_id",
        F2.transform("embedding", lambda x: x.cast("double")).alias("e"))
    lit = {r[0]: r[1] for r in vecs.select(
        "vec_id", assign_cell(F2.col("e"), cents)).collect()}
    jn = {r[0]: r[1] for r in
          assign_cell_join(vecs, cents, vec_col="e").collect()}
    assert lit == jn


def test_semdedup_blocked_join_equals_naive_self_join(spark):
    """The triangle-blocked pair stage must compute exactly the same
    per-vector max similarity as a naive (skew-prone) self-join — the
    regression the blocking could silently introduce is a DROPPED or
    DOUBLED pair, which this direct comparison cannot miss."""
    import pyspark.sql.functions as F2

    from projectone_spark.queries import REGISTRY, queries as _q
    from projectone_spark.functions.embeddings import (
        assign_cell_join,
        dot,
        l2_norm,
        seed_centroids,
    )

    _q()
    got = {r["vec_id"]: (r["max_sim"], r["keep"]) for r in
           REGISTRY["e11_semdedup_prune"].fn(spark, SF).collect()}

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    import math
    n = emb.count()
    cents = seed_centroids(emb, k=max(8, math.ceil(math.sqrt(n / 2.0))))
    vecs = emb.select(
        "vec_id",
        F2.transform("embedding", lambda x: x.cast("double")).alias("e"))
    cells = (vecs.join(assign_cell_join(vecs, cents, vec_col="e"), "vec_id")
             .withColumn("__n", l2_norm(F2.col("e"))))
    a, b = cells.alias("a"), cells.alias("b")
    cos = dot(F2.col("a.e"), F2.col("b.e")) / (F2.col("a.__n") * F2.col("b.__n"))
    naive = {r[0]: r[1] for r in
             (a.join(b, (F2.col("a.cell_id") == F2.col("b.cell_id"))
                     & (F2.col("b.vec_id") < F2.col("a.vec_id")))
              .groupBy(F2.col("a.vec_id"))
              .agg(F2.round(F2.max(cos), 6).alias("m")).collect())}
    for vid, (max_sim, keep) in got.items():
        assert max_sim == naive.get(vid), vid
        assert keep == (max_sim is None or max_sim < 0.35)


# ---------------------------------------------------------------- e14


def _kvecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_kmeans_lloyd_hand_computed(spark):
    # seeds: v1=(1,0), v2=(0,1). v3=(0.5,0.5) ties on cosine -> lowest
    # cell (1). Round-1 means: c1=(0.75,0.25), c2=(0,1). Under the
    # refined centroids every vector keeps its cell:
    #   v1: 0.75/|c1|=0.9487 > 0     v3: 0.6325 > 0.5     v2: 1 > 0.316
    from projectone_spark.functions.embeddings import kmeans_lloyd

    df = _kvecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0]),
                        (3, [0.5, 0.5])])
    got = sorted(map(tuple, kmeans_lloyd(df, k=2, iters=1).collect()))
    assert got == [(1, 1), (2, 2), (3, 1)]


def test_kmeans_lloyd_refinement_moves_a_vector(spark):
    # The refinement loop must actually refine: under the SEED centroids
    # c1=(1,0)/c2=(0,1), border vector v5=(0.8,0.6) scores 0.8 vs 0.6 ->
    # cell 1. Round-1 means shift c1 toward v3's negative-y pull
    # ((1+1+0.8)/3, (0-0.75+0.6)/3) and c2 toward v4, after which v5
    # scores 0.767 vs 0.822 -> cell 2. A no-op loop (centroids never
    # updated) returns the seed assignment and fails here.
    import pyspark.sql.functions as F

    from projectone_spark.functions.embeddings import (
        assign_cell_join,
        kmeans_lloyd,
        seed_centroids,
    )

    df = _kvecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0]),
                        (3, [1.0, -0.75]), (4, [0.6, 0.8]),
                        (5, [0.8, 0.6])])
    v = df.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("e"))
    under_seeds = {r[0]: r[1] for r in assign_cell_join(
        v, seed_centroids(v, k=2, vec_col="e"), vec_col="e").collect()}
    refined = {r[0]: r[1] for r in kmeans_lloyd(df, k=2, iters=1).collect()}
    assert under_seeds[5] == 1
    assert refined[5] == 2  # the refinement moved the border vector
    assert refined == {1: 1, 2: 2, 3: 1, 4: 2, 5: 2}


def test_kmeans_lloyd_deterministic_and_total(spark):
    from projectone_spark.functions.embeddings import kmeans_lloyd

    emb = _emb(spark)
    a = sorted(map(tuple, kmeans_lloyd(emb, k=8, iters=2).collect()))
    b = sorted(map(tuple, kmeans_lloyd(emb, k=8, iters=2).collect()))
    assert a == b
    assert len(a) == emb.count()  # every vector assigned exactly once


def test_kmeans_lloyd_rejects_zero_iters(spark):
    import pytest as _pytest

    from projectone_spark.functions.embeddings import kmeans_lloyd

    with _pytest.raises(ValueError, match="iters"):
        kmeans_lloyd(_emb(spark), iters=0)


def test_kmeans_lloyd_centroids_consistent_with_assignments(spark):
    """kmeans_lloyd_centroids exposes the converged trained state;
    routing the corpus under it must reproduce kmeans_lloyd's own final
    assignment exactly (the retrain path e23 builds an index from)."""
    from projectone_spark.functions.embeddings import (
        assign_cell_join,
        kmeans_lloyd,
        kmeans_lloyd_centroids,
    )
    from projectone_spark.queries import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    cents = kmeans_lloyd_centroids(emb, k=4, iters=2)
    assert 1 <= len(cents) <= 4
    assert cents == sorted(cents)  # sorted by surviving seed cell id
    via_state = sorted(map(tuple, assign_cell_join(
        emb.select("vec_id",
                   F.transform("embedding",
                               lambda x: x.cast("double")).alias("e")),
        cents, vec_col="e").collect()))
    direct = sorted(map(tuple,
                        kmeans_lloyd(emb, k=4, iters=2).collect()))
    assert via_state == direct


def _rand_vecs(spark, n=40, dims=16, seed=11):
    rnd = random.Random(seed)
    rows = [(i, [rnd.uniform(-2.0, 2.0) for _ in range(dims)])
            for i in range(n)]
    # exercise signed zero / exact ties / denormal-ish smalls
    rows.append((n, [0.0] * dims))
    rows.append((n + 1, [-0.0] * dims))
    rows.append((n + 2, [5e-324] * dims))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cents(dims=16, k=6, seed=3):
    rnd = random.Random(seed)
    out = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(dims)])
           for i in range(k)]
    out[2] = (2, out[1][1][:])  # duplicate centroid: exact tie
    return out


def test_assign_cell_string_path_bit_identical(spark):
    from projectone_spark.functions.embeddings import assign_cell

    df = _rand_vecs(spark)
    cents = _cents()
    got = df.select("vec_id",
                    assign_cell("embedding", cents).alias("c")).collect()
    want = df.select("vec_id",
                     assign_cell(F.col("embedding"), cents).alias("c")
                     ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_assign_cell_nonfinite_centroid_falls_back(spark):
    from projectone_spark.functions.embeddings import assign_cell

    df = _rand_vecs(spark, n=10)
    cents = _cents()
    cents[0] = (0, [math.inf] + cents[0][1][1:])
    got = df.select("vec_id",
                    assign_cell("embedding", cents).alias("c")).collect()
    want = df.select("vec_id",
                     assign_cell(F.col("embedding"), cents).alias("c")
                     ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_probe_cells_string_path_bit_identical(spark):
    from projectone_spark.functions.embeddings import probe_cells

    df = _rand_vecs(spark)
    cents = _cents()
    for nprobe in (1, 3, len(cents)):
        got = df.select("vec_id",
                        probe_cells("embedding", cents, nprobe).alias("p")
                        ).collect()
        want = df.select("vec_id",
                         probe_cells(F.col("embedding"), cents, nprobe)
                         .alias("p")).collect()
        # probe ORDER is part of the contract (nearest first)
        assert [(r["vec_id"], list(r["p"])) for r in got] \
            == [(r["vec_id"], list(r["p"])) for r in want]


def test_lloyd_refine_joinless_assignment_bit_identical(spark):
    """The r12 2-exchange Lloyd iteration (vector carried through the
    argmax aggregate) must yield bit-identical centroids to the
    original 3-exchange shape (assign_cell_join + join-back + mean)."""
    from projectone_spark.functions.embeddings import (
        _lloyd_project,
        _lloyd_refine,
        assign_cell_join,
        seed_centroids,
    )

    rnd = random.Random(23)
    rows = [(i, [rnd.uniform(-1.5, 1.5) for _ in range(8)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = _lloyd_project(df, "vec_id", "embedding")
    got = _lloyd_refine(v, k=4, iters=3, id_col="vec_id")

    cents = seed_centroids(v, k=4, id_col="vec_id", vec_col="e")
    for _ in range(3):  # the pre-r12 shape, inline
        asg = assign_cell_join(v, cents, id_col="vec_id", vec_col="e")
        cm = (v.join(asg, "vec_id")
              .select("cell_id", F.posexplode("e").alias("pos", "val"))
              .groupBy("cell_id", "pos").agg(F.avg("val").alias("m"))
              .groupBy("cell_id")
              .agg(F.transform(
                  F.array_sort(F.collect_list(F.struct("pos", "m"))),
                  lambda s: s["m"]).alias("ce")))
        cents = sorted((int(r["cell_id"]), [float(x) for x in r["ce"]])
                       for r in cm.collect())
    assert got == cents
