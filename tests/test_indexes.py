"""Persisted-index lifecycle (store/indexes.py): save/open round-trips,
kind and part-pairing validation, stamp survival across incremental
maintenance, and the pack/unpack + probe primitives behind the ivf_sq8
search path."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from projectone_spark.functions.embeddings import (
    assign_cell,
    build_ivf_sq8_codes,
    probe_cells,
    search_ivf_sq8_index,
    seed_centroids,
    sq8_bounds,
    sq8_codes,
    sq8_pack_words,
    sq8_unpack_words,
)
from projectone_spark.queries import load
from projectone_spark.store import TableStore
from projectone_spark.store.indexes import open_index, save_index
from projectone_spark.store.models import centroids_to_frame
from tests.conftest import SF_DIR


def _store(tmp_path) -> TableStore:
    return TableStore(str(tmp_path / "store"))


def _built(spark, tmp_path, name="idx"):
    emb = load(spark, SF_DIR, "embeddings")
    seeds = seed_centroids(emb, k=4)
    cents = [(i, c) for i, (_, c) in enumerate(seeds)]
    bounds = sq8_bounds(emb, dims=64).localCheckpoint(eager=True)
    codes = build_ivf_sq8_codes(emb, cents, bounds, dims=64)
    store = _store(tmp_path)
    save_index(store, spark, name, "ivf_sq8", codes,
               parts={"centroids": centroids_to_frame(
                          spark, [c for _, c in cents]),
                      "bounds": bounds},
               params={"dims": 64, "n_cells": 4},
               partition_by=["cell"])  # the production prunable layout
    return store, emb, cents, bounds


def test_pack_unpack_roundtrip_and_tail_word(spark):
    """pack -> unpack is an identity, including a dims % 4 != 0 tail
    word (missing bytes pack as zero, the slice drops them again)."""
    for dims in (64, 6):
        df = spark.createDataFrame(
            [([i % 256 for i in range(1, dims + 1)],)],
            f"code array<int>")
        packed = df.select(*[w.alias(f"w{j:02d}") for j, w in enumerate(
            sq8_pack_words(F.col("code"), dims))])
        back = packed.select(sq8_unpack_words(dims).alias("code")).first()
        assert back["code"] == [i % 256 for i in range(1, dims + 1)], dims


def test_probe_cells_matches_assign_cell_at_nprobe_1(spark):
    emb = load(spark, SF_DIR, "embeddings").limit(50)
    cents = [(i, c) for i, (_, c) in enumerate(seed_centroids(emb, k=4))]
    both = emb.select(
        assign_cell(F.col("embedding"), cents).alias("a"),
        probe_cells(F.col("embedding"), cents, 1)[0].alias("p"),
        F.size(probe_cells(F.col("embedding"), cents, 3)).alias("n"))
    rows = both.collect()
    assert all(r["a"] == r["p"] for r in rows)
    assert all(r["n"] == 3 for r in rows)
    with pytest.raises(ValueError, match="at least one centroid"):
        probe_cells(F.col("embedding"), [], 1)
    with pytest.raises(ValueError, match="nprobe"):
        probe_cells(F.col("embedding"), cents, 0)


def test_save_open_round_trip_validates_everything(spark, tmp_path):
    store, emb, cents, _ = _built(spark, tmp_path)
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    assert idx.kind == "ivf_sq8" and idx.params["dims"] == 64
    assert idx.codes.count() == emb.count()
    assert sorted(idx.parts) == ["bounds", "centroids"]
    # kind mismatch / absent / plain table all fail loudly
    with pytest.raises(ValueError, match="holds kind"):
        open_index(store, spark, "idx", kind="nonsense")
    with pytest.raises(FileNotFoundError):
        open_index(store, spark, "absent")
    store.overwrite(spark, emb.select("vec_id"), "plain")
    with pytest.raises(ValueError, match="no index metadata"):
        open_index(store, spark, "plain")


def test_save_index_validates_parts_and_columns(spark, tmp_path):
    store = _store(tmp_path)
    emb = load(spark, SF_DIR, "embeddings")
    cents = [(i, c) for i, (_, c) in enumerate(seed_centroids(emb, k=4))]
    bounds = sq8_bounds(emb, dims=64)
    codes = build_ivf_sq8_codes(emb, cents, bounds, dims=64)
    cf = centroids_to_frame(spark, [c for _, c in cents])
    with pytest.raises(ValueError, match="unknown index kind"):
        save_index(store, spark, "i", "nonsense", codes,
                   {"centroids": cf, "bounds": bounds}, {"dims": 64})
    with pytest.raises(ValueError, match="missing"):
        save_index(store, spark, "i", "ivf_sq8", codes,
                   {"centroids": cf}, {"dims": 64})
    with pytest.raises(ValueError, match="missing required columns"):
        save_index(store, spark, "i", "ivf_sq8", codes.drop("w03"),
                   {"centroids": cf, "bounds": bounds}, {"dims": 64})


def test_index_stamp_survives_append_not_overwrite(spark, tmp_path):
    """Incremental maintenance is an append stream (the st15 shape) —
    the stamp must ride it; a plain overwrite replaces the contents and
    must strip it (the save_model discipline one level up)."""
    store, emb, cents, bounds = _built(spark, tmp_path)
    delta = build_ivf_sq8_codes(
        emb.filter(F.col("vec_id") % 7 == 0)
           .withColumn("vec_id", F.col("vec_id") + 1_000_000),
        cents, bounds, dims=64)
    store.append(spark, delta, "idx")
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    assert idx.codes.count() == emb.count() + delta.count()
    store.overwrite(spark, emb.select("vec_id"), "idx")
    with pytest.raises(ValueError, match="no index metadata|no longer"):
        open_index(store, spark, "idx")


def test_open_index_rejects_foreign_parts(spark, tmp_path):
    """A part table saved for ANOTHER index must refuse to pair — a
    code table scored under the wrong quantizer returns silently-wrong
    neighbors, the exact failure the name-binding exists to stop."""
    store, emb, cents, bounds = _built(spark, tmp_path, name="one")
    _built(spark, tmp_path / "x", name="two")
    # simulate a mispaired part: point 'one' at a part saved for 'two'
    two = TableStore(str(tmp_path / "x" / "store"))
    frame = two.read(spark, "two__bounds")
    from projectone_spark.store.models import save_model

    save_model(store, spark, "one__bounds", "sq8_bounds", frame,
               params={"index": "two", "dims": 64})
    with pytest.raises(ValueError, match="refusing to pair"):
        open_index(store, spark, "one")


def test_search_from_persisted_index_matches_fresh_funnel(spark, tmp_path):
    """Cold search from the persisted artifact equals the same funnel
    over freshly-built frames bit-for-bit (parquet round-trips ints and
    doubles exactly)."""
    store, emb, cents, bounds = _built(spark, tmp_path)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    from projectone_spark.store.models import centroids_from_model

    loaded = [(i, c) for i, c in enumerate(
        centroids_from_model(idx.parts["centroids"]))]
    cold = search_ivf_sq8_index(
        idx.codes, loaded, idx.parts["bounds"].localCheckpoint(eager=True),
        emb, queries, k=3, nprobe=2, shortlist=10, dims=64)
    fresh = search_ivf_sq8_index(
        build_ivf_sq8_codes(emb, cents, bounds, dims=64), cents, bounds,
        emb, queries, k=3, nprobe=2, shortlist=10, dims=64)
    assert sorted(map(tuple, cold.collect())) \
        == sorted(map(tuple, fresh.collect()))
    assert cold.count() > 0


def test_drop_from_index_keeps_stamp_and_matches_survivor_rebuild(
        spark, tmp_path):
    """The re-curation flow: a dedup pass condemns vec_ids and
    drop_from_index sheds them WITHOUT a rebuild — the stamp rides the
    delete's own commit (still openable), and the maintained code table
    equals a from-scratch rebuild over the surviving corpus under the
    same persisted parts. A plain delete_where keeps dropping the stamp
    (the junk-write guard is unchanged), and predicates on non-code
    columns are rejected before anything commits."""
    from projectone_spark.store.dml import delete_where
    from projectone_spark.store.indexes import drop_from_index

    store, emb, cents, bounds = _built(spark, tmp_path)
    v0 = store.version("idx")
    with pytest.raises(ValueError, match="code-table columns"):
        drop_from_index(store, spark, "idx", [("embedding", "=", 1)])
    v1 = drop_from_index(store, spark, "idx", [("vec_id", "in",
                         [int(r["vec_id"]) for r in
                          emb.filter(F.col("vec_id") % 4 == 0)
                             .select("vec_id").collect()])])
    assert v1 == v0 + 1
    idx = open_index(store, spark, "idx", kind="ivf_sq8")  # stamp survived
    survivors = emb.filter(F.col("vec_id") % 4 != 0)
    rebuilt = build_ivf_sq8_codes(survivors, cents, bounds, dims=64)
    cols = sorted(idx.codes.columns)
    diff = (idx.codes.select(*cols).exceptAll(rebuilt.select(*cols))
            .unionAll(rebuilt.select(*cols)
                      .exceptAll(idx.codes.select(*cols))).count())
    assert diff == 0
    assert idx.codes.count() == survivors.count()
    # a search over the maintained artifact never returns a dropped id
    queries = survivors.filter(F.col("vec_id") % 50 == 25).limit(3)
    hits = search_ivf_sq8_index(
        idx.codes, cents, idx.parts["bounds"].localCheckpoint(eager=True),
        survivors, queries, k=3, nprobe=2, shortlist=10, dims=64)
    bad = hits.filter(F.col("neighbor_id") % 4 == 0).count()
    assert bad == 0 and hits.count() > 0
    # the unvalidated path still strips the stamp by design
    delete_where(store, spark, "idx", [("cell", "=", 0)])
    with pytest.raises(ValueError, match="no index metadata"):
        open_index(store, spark, "idx")


def test_drop_from_index_noop_when_pruned(spark, tmp_path):
    """File stats proving no match -> no commit, stamp untouched."""
    from projectone_spark.store.indexes import drop_from_index

    store, emb, *_ = _built(spark, tmp_path)
    v0 = store.version("idx")
    assert drop_from_index(store, spark, "idx",
                           [("cell", "=", 99)]) is None
    assert store.version("idx") == v0
    open_index(store, spark, "idx", kind="ivf_sq8")


def test_save_index_rejects_reserved_params_key(spark, tmp_path):
    store, emb, cents, bounds = _built(spark, tmp_path)
    codes = build_ivf_sq8_codes(emb, cents, bounds, dims=64)
    with pytest.raises(ValueError, match="reserved"):
        save_index(store, spark, "idx2", "ivf_sq8", codes,
                   parts={"centroids": centroids_to_frame(
                              spark, [c for _, c in cents]),
                          "bounds": bounds},
                   params={"dims": 64, "index": "shadow"})


def test_open_index_version_pinning_survives_concurrent_rebuild(
        spark, tmp_path):
    """f16's refresh contract lifted to the whole artifact: a search
    pinned to index v_N reads v_N's codes AND the part contents they
    were encoded under, bit-for-bit, while a rebuild publishes new codes
    and new parts over the SAME table names."""
    store, emb, cents, bounds = _built(spark, tmp_path)
    v0 = store.version("idx")
    idx0 = open_index(store, spark, "idx", kind="ivf_sq8")
    codes0 = sorted(map(tuple, idx0.codes.select(
        sorted(idx0.codes.columns)).collect()))
    cents0 = sorted(map(tuple, idx0.parts["centroids"]
                        .select("cell", "centroid").collect()))
    # the rebuild: different quantizer (k=2), different codes, same names
    seeds2 = seed_centroids(emb, k=2)
    cents2 = [(i, c) for i, (_, c) in enumerate(seeds2)]
    save_index(store, spark, "idx", "ivf_sq8",
               build_ivf_sq8_codes(emb, cents2, bounds, dims=64),
               parts={"centroids": centroids_to_frame(
                          spark, [c for _, c in cents2]),
                      "bounds": bounds},
               params={"dims": 64, "n_cells": 2},
               partition_by=["cell"])
    pinned = open_index(store, spark, "idx", kind="ivf_sq8", version=v0)
    assert pinned.params["n_cells"] == 4
    assert sorted(map(tuple, pinned.codes.select(
        sorted(pinned.codes.columns)).collect())) == codes0
    assert sorted(map(tuple, pinned.parts["centroids"]
                      .select("cell", "centroid").collect())) == cents0
    latest = open_index(store, spark, "idx", kind="ivf_sq8")
    assert latest.params["n_cells"] == 2
    assert latest.parts["centroids"].count() == 2
    # pinning to a non-save_index commit fails the stamp check
    junk_v = store.overwrite(spark, emb.select("vec_id"), "idx")
    with pytest.raises(ValueError, match="no index metadata"):
        open_index(store, spark, "idx", version=junk_v)
    with pytest.raises(FileNotFoundError, match="no version"):
        open_index(store, spark, "idx", version=99)


def test_open_index_pinned_rejects_pre_pinning_stamp(spark, tmp_path):
    """A stamp without part_versions (pre-pinning save) cannot prove
    which part contents its codes were built under — a pinned open must
    refuse rather than silently pair with the latest parts."""
    store, *_ = _built(spark, tmp_path)
    m = store.snapshot("idx")
    stamp = {k: v for k, v in m["index"].items() if k != "part_versions"}
    v1 = store.overwrite(spark, store.read(spark, "idx"), "idx",
                         manifest_extra={"index": stamp})
    with pytest.raises(ValueError, match="predates part-version"):
        open_index(store, spark, "idx", version=v1)
    open_index(store, spark, "idx")  # unpinned open still fine


def test_ivf_pq_index_roundtrip_and_fullshortlist_equals_bruteforce(
        spark, tmp_path):
    """The ivf_pq kind end-to-end: save/open validates codebook pairing
    and code columns; a full-probe full-shortlist ADC search from the
    persisted artifact equals exact brute force bit-for-bit (the e09
    adjudication pattern); the production shape stays bounded."""
    from projectone_spark.functions.embeddings import (
        build_ivf_pq_codes,
        knn_bruteforce,
        pq_train,
        search_ivf_pq_index,
    )
    from projectone_spark.store.models import (
        codebooks_from_model,
        codebooks_to_frame,
    )

    emb = load(spark, SF_DIR, "embeddings")
    cents = [(i, c) for i, (_, c) in enumerate(seed_centroids(emb, k=4))]
    books = pq_train(emb, m=8, n_codes=16)
    codes = build_ivf_pq_codes(emb, cents, books)
    store = _store(tmp_path)
    save_index(store, spark, "pq", "ivf_pq", codes,
               parts={"centroids": centroids_to_frame(
                          spark, [c for _, c in cents]),
                      "codebooks": codebooks_to_frame(spark, books)},
               params={"dims": 64, "m": 8, "n_codes": 16, "n_cells": 4},
               partition_by=["cell"])
    idx = open_index(store, spark, "pq", kind="ivf_pq")
    loaded_books = codebooks_from_model(idx.parts["codebooks"])
    assert loaded_books == books  # parquet doubles round-trip exactly
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    full = search_ivf_pq_index(idx.codes, cents, loaded_books, emb,
                               queries, k=5, nprobe=4, shortlist=n)
    brute = knn_bruteforce(emb, queries, k=5)
    assert sorted(map(tuple, full.collect())) \
        == sorted(map(tuple, brute.collect()))
    prod = search_ivf_pq_index(idx.codes, cents, loaded_books, emb,
                               queries, k=5, nprobe=2, shortlist=25)
    per_q = prod.groupBy("query_id").count().agg(
        F.max("count").alias("m")).first()["m"]
    assert per_q is not None and per_q <= 5


def test_codebooks_adapters_validate(spark):
    from projectone_spark.store.models import codebooks_from_model

    with pytest.raises(ValueError, match="empty"):
        codebooks_from_model(spark.createDataFrame(
            [], "subspace int, code int, centroid array<double>"))
    with pytest.raises(ValueError, match="dense"):
        codebooks_from_model(spark.createDataFrame(
            [(0, 0, [0.0]), (0, 2, [1.0])],
            "subspace int, code int, centroid array<double>"))
    with pytest.raises(ValueError, match="ragged"):
        codebooks_from_model(spark.createDataFrame(
            [(0, 0, [0.0]), (0, 1, [1.0]), (1, 0, [0.0])],
            "subspace int, code int, centroid array<double>"))


def test_assign_cell_vectorized_matches_literal(spark):
    """The large-k Arrow router agrees with the literal codegen path on
    real (non-tied) vectors, and build_ivf_sq8_codes produces the same
    code table under either route."""
    from projectone_spark.functions.embeddings import (
        assign_cell_vectorized,
    )

    emb = load(spark, SF_DIR, "embeddings")
    cents = [(i, c) for i, (_, c) in enumerate(seed_centroids(emb, k=4))]
    both = emb.select(
        assign_cell(F.col("embedding"), cents).alias("a"),
        assign_cell_vectorized(cents)(F.col("embedding")).alias("b"))
    assert both.filter(F.col("a") != F.col("b")).count() == 0
    bounds = sq8_bounds(emb, dims=64).localCheckpoint(eager=True)
    lit = build_ivf_sq8_codes(emb, cents, bounds, dims=64)
    vec = build_ivf_sq8_codes(emb, cents, bounds, dims=64,
                              route="vectorized")
    assert lit.exceptAll(vec).unionAll(vec.exceptAll(lit)).count() == 0
    with pytest.raises(ValueError, match="route"):
        build_ivf_sq8_codes(emb, cents, bounds, dims=64, route="x")


def test_search_keyed_fetch_matches_corpus_scan(spark, tmp_path):
    """fetch_ids (the 100 TB rerank shape: keyed file-skipped fetch of
    the bounded shortlist instead of streaming the whole raw corpus)
    returns bit-identical results to the corpus-scan default, for both
    index kinds, including when the fetch goes through a real
    store.read_where over an id-stats table."""
    from projectone_spark.functions.embeddings import (
        build_ivf_pq_codes,
        pq_train,
        search_ivf_pq_index,
    )
    from projectone_spark.store.models import codebooks_to_frame
    from projectone_spark.store.skipping import read_where

    store, emb, cents, bounds = _built(spark, tmp_path)
    store.overwrite(spark, emb, "corpus", stats_columns=["vec_id"])
    calls = []

    def fetch(ids):
        calls.append(len(ids))
        return read_where(store, spark, "corpus", [("vec_id", "in", ids)])

    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    scan = search_ivf_sq8_index(idx.codes, cents, bounds, emb, queries,
                                k=3, nprobe=2, shortlist=10, dims=64)
    keyed = search_ivf_sq8_index(idx.codes, cents, bounds, None, queries,
                                 k=3, nprobe=2, shortlist=10, dims=64,
                                 fetch_ids=fetch)
    assert sorted(map(tuple, scan.collect())) \
        == sorted(map(tuple, keyed.collect()))
    assert calls and calls[0] > 0  # the fetch really ran, with real ids
    with pytest.raises(ValueError, match="corpus frame or fetch_ids"):
        search_ivf_sq8_index(idx.codes, cents, bounds, None, queries,
                             k=3, nprobe=2, shortlist=10, dims=64).collect()

    books = pq_train(emb, m=8, n_codes=16)
    codes = build_ivf_pq_codes(emb, cents, books)
    pq_scan = search_ivf_pq_index(codes, cents, books, emb, queries,
                                  k=3, nprobe=2, shortlist=10)
    pq_keyed = search_ivf_pq_index(codes, cents, books, None, queries,
                                   k=3, nprobe=2, shortlist=10,
                                   fetch_ids=fetch)
    assert sorted(map(tuple, pq_scan.collect())) \
        == sorted(map(tuple, pq_keyed.collect()))


def test_search_rebalance_is_bit_identical(spark, tmp_path):
    """rebalance= (the hot-cell straggler mitigation) is a pure
    physical rebalance: results match the scan-side join row-for-row,
    for both index kinds."""
    from projectone_spark.functions.embeddings import (
        build_ivf_pq_codes,
        pq_train,
        search_ivf_pq_index,
    )

    store, emb, cents, bounds = _built(spark, tmp_path)
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    plain = search_ivf_sq8_index(idx.codes, cents, bounds, emb, queries,
                                 k=3, nprobe=2, shortlist=10, dims=64)
    reb = search_ivf_sq8_index(idx.codes, cents, bounds, emb, queries,
                               k=3, nprobe=2, shortlist=10, dims=64,
                               rebalance=8)
    assert sorted(map(tuple, plain.collect())) \
        == sorted(map(tuple, reb.collect()))
    books = pq_train(emb, m=8, n_codes=16)
    codes = build_ivf_pq_codes(emb, cents, books)
    pq_plain = search_ivf_pq_index(codes, cents, books, emb, queries,
                                   k=3, nprobe=2, shortlist=10)
    pq_reb = search_ivf_pq_index(codes, cents, books, emb, queries,
                                 k=3, nprobe=2, shortlist=10, rebalance=8)
    assert sorted(map(tuple, pq_plain.collect())) \
        == sorted(map(tuple, pq_reb.collect()))


def test_compact_keeps_index_stamp_and_contents(spark, tmp_path):
    """OPTIMIZE between maintenance appends (the st17 mid-stream shape,
    store-level twin of test_models.py::test_maintenance_keeps_model_stamp):
    compact preserves the index stamp, the txn watermarks, the cell
    partitioning, and every row — and bounds the file count."""
    from projectone_spark.store import last_commit_stats
    from projectone_spark.store.maintenance import compact

    store, emb, cents, bounds = _built(spark, tmp_path)
    delta = build_ivf_sq8_codes(
        emb.filter(F.col("vec_id") % 7 == 0)
           .withColumn("vec_id", F.col("vec_id") + 1_000_000),
        cents, bounds, dims=64)
    store.append(spark, delta.coalesce(1), "idx", txn=("maint", 3))
    before = open_index(store, spark, "idx", kind="ivf_sq8")
    rows_before = sorted(map(tuple, before.codes.select(
        sorted(before.codes.columns)).collect()))
    files_before = last_commit_stats(store, "idx")["num_files"]
    assert compact(store, spark, "idx", target_file_bytes=1 << 30) is not None
    after = open_index(store, spark, "idx", kind="ivf_sq8")  # stamp kept
    assert after.params == before.params
    assert store.txn_version("idx", "maint") == 3  # watermark kept
    assert store.manifest("idx")["partition_by"] == ["cell"]
    rows_after = sorted(map(tuple, after.codes.select(
        sorted(after.codes.columns)).collect()))
    assert rows_after == rows_before
    assert last_commit_stats(store, "idx")["num_files"] <= files_before


def test_drop_from_index_by_ids_frame(spark, tmp_path):
    """The ids-frame shape — the condemned set as a TABLE (what a
    dedup pass emits at scale; never collected): an anti-join MERGE
    delete, stamp re-published through the same commit, identical
    survivors to the predicate shape."""
    from projectone_spark.store.indexes import drop_from_index

    store, emb, cents, bounds = _built(spark, tmp_path)
    condemned = emb.filter(F.col("vec_id") % 4 == 0).select("vec_id")
    v = drop_from_index(store, spark, "idx", ids=condemned)
    assert v is not None
    idx = open_index(store, spark, "idx", kind="ivf_sq8")  # stamp kept
    survivors = emb.filter(F.col("vec_id") % 4 != 0)
    assert idx.codes.count() == survivors.count()
    rebuilt = build_ivf_sq8_codes(survivors, cents, bounds, dims=64)
    cols = sorted(idx.codes.columns)
    assert (idx.codes.select(*cols).exceptAll(rebuilt.select(*cols))
            .unionAll(rebuilt.select(*cols)
                      .exceptAll(idx.codes.select(*cols))).count()) == 0
    with pytest.raises(ValueError, match="exactly one"):
        drop_from_index(store, spark, "idx")
    with pytest.raises(ValueError, match="exactly one"):
        drop_from_index(store, spark, "idx", [("cell", "=", 0)],
                        ids=condemned)
    with pytest.raises(ValueError, match="not a code-table column"):
        drop_from_index(store, spark, "idx",
                        ids=condemned.withColumnRenamed("vec_id", "doc"),
                        key="doc")


def test_pq_production_shape_recall_floor(spark, tmp_path):
    """Recall@5 of the PRUNED persisted-PQ search (nprobe < n_cells,
    bounded shortlist — the production shape e21's full-shortlist
    oracle deliberately bypasses) against exact brute force: the
    standard ANN audit, run over the cold-opened artifact."""
    from projectone_spark.functions.embeddings import (
        build_ivf_pq_codes,
        knn_bruteforce,
        knn_recall,
        pq_train,
        search_ivf_pq_index,
    )
    from projectone_spark.store.models import (
        centroids_from_model,
        codebooks_from_model,
        codebooks_to_frame,
    )

    emb = load(spark, SF_DIR, "embeddings")
    cents = [(i, c) for i, (_, c) in enumerate(seed_centroids(emb, k=4))]
    books = pq_train(emb, m=8, n_codes=16)
    store = _store(tmp_path)
    save_index(store, spark, "pq", "ivf_pq",
               build_ivf_pq_codes(emb, cents, books),
               parts={"centroids": centroids_to_frame(
                          spark, [c for _, c in cents]),
                      "codebooks": codebooks_to_frame(spark, books)},
               params={"dims": 64, "m": 8, "n_codes": 16, "n_cells": 4},
               partition_by=["cell"])
    idx = open_index(store, spark, "pq", kind="ivf_pq")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    approx = search_ivf_pq_index(
        idx.codes,
        [(i, c) for i, c in enumerate(
            centroids_from_model(idx.parts["centroids"]))],
        codebooks_from_model(idx.parts["codebooks"]),
        emb, queries, k=5, nprobe=3, shortlist=50)
    exact = knn_bruteforce(emb, queries, k=5)
    rec = (knn_recall(exact, approx, "ivf_pq", k=5)
           .agg(F.avg("recall").alias("r")).first()["r"])
    # probing 3/4 cells of a seed-centroid (deliberately degenerate,
    # SQL-adjudicable) quantizer over the tiny test corpus measures
    # 0.68; the 0.5 floor catches a silently-broken ADC/unpack/funnel
    # (~0 recall), not quantization noise
    assert rec is not None and rec >= 0.5, rec


def test_drop_from_index_dedups_ids_and_carries_txn(spark, tmp_path):
    """A dedup pass emits condemned ids once per duplicate PAIR —
    drop_from_index must treat them as a set (raw duplicates would trip
    MERGE's duplicate-match guard, which protects updates, not
    deletes); and the drop's own txn watermark makes an interleaved
    at-least-once drop replay-guardable like an append."""
    from projectone_spark.store.indexes import drop_from_index

    store, emb, cents, bounds = _built(spark, tmp_path)
    dup_ids = (emb.filter(F.col("vec_id") % 4 == 0).select("vec_id")
               .unionAll(emb.filter(F.col("vec_id") % 8 == 0)
                         .select("vec_id")))  # every %8 id appears twice
    v = drop_from_index(store, spark, "idx", ids=dup_ids,
                        txn=("recuration", 7))
    assert v is not None
    assert store.txn_version("idx", "recuration") == 7
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    assert idx.codes.count() == emb.filter(F.col("vec_id") % 4 != 0).count()
    # replay guard: the watermark says this drop already ran
    assert store.txn_version("idx", "recuration") >= 7


def test_keyed_fetch_detects_index_corpus_drift(spark, tmp_path):
    """A corpus table missing indexed vectors must fail the search
    loudly (silent candidate drops would skew top-k)."""
    store, emb, cents, bounds = _built(spark, tmp_path)
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    # the "corpus" is missing a quarter of the indexed vectors
    store.overwrite(spark, emb.filter(F.col("vec_id") % 4 != 0), "corpus")

    def fetch(ids):
        return store.read(spark, "corpus") \
            .filter(F.col("vec_id").isin(list(ids)))

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    with pytest.raises(ValueError, match="index/corpus drift"):
        search_ivf_sq8_index(idx.codes, cents, bounds, None, queries,
                             k=3, nprobe=2, shortlist=10, dims=64,
                             fetch_ids=fetch).collect()


def test_drop_from_index_stamp_cannot_pair_with_concurrent_rebuild(
        spark, tmp_path):
    """The drop re-publishes the stamp it read; a rebuild landing
    between that read and the delete's commit must make the drop fail
    (ConcurrentWriteError via expected_version) — never silently pair
    the OLD stamp with the NEW contents. Simulated by handing
    delete_where a stale expected_version directly."""
    from projectone_spark.store import ConcurrentWriteError
    from projectone_spark.store.dml import delete_where

    store, emb, cents, bounds = _built(spark, tmp_path)
    v = store.version("idx")
    with pytest.raises(ConcurrentWriteError, match="prepared against"):
        delete_where(store, spark, "idx", [("cell", "=", 0)],
                     manifest_extra={"index": {"stale": True}},
                     expected_version=v - 1)
    # untouched: the failed drop committed nothing
    assert store.version("idx") == v
    open_index(store, spark, "idx", kind="ivf_sq8")


def test_index_stats_profile_matches_codes(spark, tmp_path):
    """index_stats is manifest-only observability: its per-cell row
    counts must equal a groupBy over the code table, occupancy must sum
    to ~1e6 in exact micro-units, and the profile must stay readable
    (a) pinned to an historical version after a rebuild and (b) after a
    drop_from_index rewrote some cells' files."""
    from projectone_spark.store.indexes import drop_from_index, index_stats

    store, emb, cents, bounds = _built(spark, tmp_path)
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    truth = {r["cell"]: r["n"] for r in
             idx.codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    prof = {r["cell"]: r for r in
            index_stats(store, spark, "idx").collect()}
    assert {c: r["n_rows"] for c, r in prof.items()} == truth
    total = sum(truth.values())
    assert all(r["occupancy_micro"] == 1_000_000 * truth[c] // total
               for c, r in prof.items())
    assert all(r["n_files"] >= 1 and r["n_bytes"] > 0
               for r in prof.values())
    v0 = store.version("idx")
    # a drop rewrites the condemned cells' files; stats must re-derive
    # from the POST-delete manifest
    drop_from_index(store, spark, "idx", [("cell", "=", 0)])
    prof2 = {r["cell"]: r["n_rows"] for r in
             index_stats(store, spark, "idx").collect()}
    assert 0 not in prof2
    assert prof2 == {c: n for c, n in truth.items() if c != 0}
    # and the pinned profile still describes v0's layout
    pinned = {r["cell"]: r["n_rows"] for r in
              index_stats(store, spark, "idx", version=v0).collect()}
    assert pinned == truth


def test_index_stats_rejects_unstamped_and_unpartitioned(spark, tmp_path):
    from projectone_spark.store.indexes import index_stats

    store, emb, cents, bounds = _built(spark, tmp_path)
    store.overwrite(spark, emb.select("vec_id"), "plain")
    with pytest.raises(ValueError, match="no index metadata"):
        index_stats(store, spark, "plain")
    with pytest.raises(FileNotFoundError):
        index_stats(store, spark, "missing")
    # an unpartitioned code table's files span cells — refusal, not a
    # silently-wrong guess
    codes = build_ivf_sq8_codes(emb, cents, bounds, dims=64)
    save_index(store, spark, "flat", "ivf_sq8", codes,
               parts={"centroids": centroids_to_frame(
                          spark, [c for _, c in cents]),
                      "bounds": bounds},
               params={"dims": 64, "n_cells": 4})
    with pytest.raises(ValueError, match="not cell-partitioned"):
        index_stats(store, spark, "flat")


def test_drop_from_index_rebuild_landing_mid_drop_fails_loudly(
        spark, tmp_path, monkeypatch):
    """The full drop_from_index path under the race the stamp guard
    exists for: a REBUILD commits between the drop's manifest read and
    its MERGE commit. The drop must raise ConcurrentWriteError (its
    stamp snapshot is stale) and leave the rebuild's artifact intact —
    never republish v0's stamp over the new contents. (The existing
    stamp-race test drives delete_where with a stale expected_version
    directly; this one injects the rebuild inside drop_from_index
    itself.)"""
    from projectone_spark.store import ConcurrentWriteError
    from projectone_spark.store import dml as dml_mod
    from projectone_spark.store.indexes import drop_from_index

    store, emb, cents, bounds = _built(spark, tmp_path)
    real_merge = dml_mod.merge_into

    def rebuild_then_merge(*args, **kwargs):
        # the rebuild lands AFTER the drop validated/opened the index
        # and snapshotted its stamp, BEFORE the delete commits
        cents2 = [(i, c) for i, (_, c)
                  in enumerate(seed_centroids(emb, k=2))]
        save_index(store, spark, "idx", "ivf_sq8",
                   build_ivf_sq8_codes(emb, cents2, bounds, dims=64),
                   parts={"centroids": centroids_to_frame(
                              spark, [c for _, c in cents2]),
                          "bounds": bounds},
                   params={"dims": 64, "n_cells": 2},
                   partition_by=["cell"])
        dml_mod.merge_into = real_merge  # inject exactly once
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(dml_mod, "merge_into", rebuild_then_merge)
    condemned = emb.filter(F.col("vec_id") % 4 == 0).select("vec_id")
    with pytest.raises(ConcurrentWriteError, match="prepared against"):
        drop_from_index(store, spark, "idx", ids=condemned)
    # the rebuild's artifact survives untouched and coherent
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    assert idx.params["n_cells"] == 2
    assert idx.parts["centroids"].count() == 2


def test_retrain_swap_pinned_search_unchanged(spark, tmp_path):
    """e23's contract at test scale, extending the concurrent-rebuild
    pinning test: a kmeans-retrained quantizer publishes v0+1 over the
    same names; the search pinned to v0 reproduces the pre-swap answer
    row-for-row while the live open serves the retrained artifact."""
    from projectone_spark.functions.embeddings import kmeans_lloyd_centroids

    store, emb, cents, bounds = _built(spark, tmp_path)
    v0 = store.version("idx")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    s0 = sorted(map(tuple, search_ivf_sq8_index(
        open_index(store, spark, "idx").codes, cents, bounds, emb,
        queries, k=3, nprobe=2, shortlist=10, dims=64).collect()))
    refined = kmeans_lloyd_centroids(emb, k=4, iters=1)
    cents1 = [(i, c) for i, (_, c) in enumerate(refined)]
    save_index(store, spark, "idx", "ivf_sq8",
               build_ivf_sq8_codes(emb, cents1, bounds, dims=64),
               parts={"centroids": centroids_to_frame(
                          spark, [c for _, c in cents1]),
                      "bounds": bounds},
               params={"dims": 64, "n_cells": len(cents1),
                       "seeding": "kmeans_lloyd"},
               partition_by=["cell"])
    pinned = open_index(store, spark, "idx", version=v0)
    s_pinned = sorted(map(tuple, search_ivf_sq8_index(
        pinned.codes, cents, pinned.parts["bounds"], emb, queries,
        k=3, nprobe=2, shortlist=10, dims=64).collect()))
    assert s_pinned == s0
    assert open_index(store, spark, "idx").params["seeding"] \
        == "kmeans_lloyd"


def test_code_table_records_key_stats_and_id_drop_prunes(spark, tmp_path):
    """save_index declares vec_id as a stats column, so every code file
    carries its key range and an ids-shaped drop bounds its rewrite by
    the condemned range — a condemned set provably outside every file
    is a no-commit noop (the r12 drop-at-scale finding: without key
    stats the anti-join MERGE rewrote the whole index)."""
    from projectone_spark.store.indexes import drop_from_index

    store, emb, cents, bounds = _built(spark, tmp_path)
    m = store.manifest("idx")
    assert m["stats_columns"] == ["vec_id"]
    assert m["files"] and all(
        "vec_id" in f["min"] and "vec_id" in f["max"] for f in m["files"])
    v0 = store.version("idx")
    ghosts = spark.range(10_000_000, 10_000_100) \
        .select(F.col("id").alias("vec_id"))
    assert drop_from_index(store, spark, "idx", ids=ghosts) is None
    assert store.version("idx") == v0
    open_index(store, spark, "idx", kind="ivf_sq8")


def test_index_stats_across_append_commits(spark, tmp_path):
    """Maintained indexes are multi-commit (st15/st17: base build plus
    appended deltas) — index_stats must fold file stats across every
    commit's directory, and the appended files must carry the inherited
    vec_id stats so the ids-shaped drop stays prunable after
    maintenance."""
    from projectone_spark.store.indexes import index_stats

    store, emb, cents, bounds = _built(spark, tmp_path)
    base = open_index(store, spark, "idx", kind="ivf_sq8")
    base_truth = {r["cell"]: r["n"] for r in
                  base.codes.groupBy("cell")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    # a maintenance append: re-encode a slice as the "delta"
    delta = emb.filter(F.col("vec_id") % 7 == 0) \
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
    store.append(spark,
                 build_ivf_sq8_codes(delta, cents, bounds, dims=64),
                 "idx")
    idx = open_index(store, spark, "idx", kind="ivf_sq8")
    truth = {r["cell"]: r["n"] for r in
             idx.codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    prof = {r["cell"]: r["n_rows"] for r in
            index_stats(store, spark, "idx").collect()}
    assert prof == truth
    assert sum(truth.values()) > sum(base_truth.values())
    # appended files inherited the key stats
    m = store.manifest("idx")
    assert m["stats_columns"] == ["vec_id"]
    assert all("vec_id" in f["min"] for f in m["files"])


def test_unpinned_open_reads_the_codes_of_its_stamp(spark, tmp_path,
                                                   monkeypatch):
    """An append that lands between reading the stamp and reading the
    codes cannot pair ``OpenedIndex.version`` with another version's
    rows."""
    store, emb, cents, bounds = _built(spark, tmp_path)
    extra = build_ivf_sq8_codes(emb.limit(3), cents, bounds, dims=64)
    read = TableStore.read

    def read_after_an_append(self, spark_, name, *args, **kwargs):
        if name == "idx":
            monkeypatch.setattr(TableStore, "read", read)
            store.append(spark, extra, "idx")
        return read(self, spark_, name, *args, **kwargs)

    monkeypatch.setattr(TableStore, "read", read_after_an_append)
    opened = open_index(store, spark, "idx", kind="ivf_sq8")
    assert store.version("idx") == opened.version + 1
    assert opened.codes.count() == store.read_version(
        spark, "idx", opened.version).count()
