"""Model persistence over the TableStore (store/models.py): save/load
round-trips, kind validation, the bounded driver-value adapters, and
the train-once/apply-identical contract behind f15."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from projectone_spark.queries import load
from projectone_spark.store import TableStore
from projectone_spark.store.models import (
    MODEL_KINDS,
    bpe_merges_from_model,
    centroids_from_model,
    centroids_to_frame,
    load_model,
    save_model,
)
from tests.conftest import SF_DIR


def _store(tmp_path) -> TableStore:
    return TableStore(str(tmp_path / "store"))


def test_save_load_round_trip_with_metadata(spark, tmp_path):
    store = _store(tmp_path)
    w = spark.createDataFrame([("cat", 7), ("dog", 9)],
                              "term string, weight_micro bigint")
    v = save_model(store, spark, "m", "token_weights", w,
                   params={"scale": 1_000_000})
    assert v == store.version("m")
    back, meta = load_model(store, spark, "m", kind="token_weights")
    assert meta == {"kind": "token_weights", "params": {"scale": 1_000_000}}
    assert sorted(map(tuple, back.collect())) == [("cat", 7), ("dog", 9)]


def test_kind_and_schema_validation(spark, tmp_path):
    store = _store(tmp_path)
    w = spark.createDataFrame([("cat", 7)], "term string, weight_micro bigint")
    with pytest.raises(ValueError, match="unknown model kind"):
        save_model(store, spark, "m", "nonsense", w)
    with pytest.raises(ValueError, match="missing required columns"):
        save_model(store, spark, "m", "bpe_merges", w)
    save_model(store, spark, "m", "token_weights", w)
    with pytest.raises(ValueError, match="expected 'bpe_merges'"):
        load_model(store, spark, "m", kind="bpe_merges")
    # a plain (non-model) store table refuses to load as a model
    store.overwrite(spark, w, "plain")
    with pytest.raises(ValueError, match="no model metadata"):
        load_model(store, spark, "plain")
    with pytest.raises(FileNotFoundError):
        load_model(store, spark, "absent")


def test_resave_bumps_version_and_time_travel_restores(spark, tmp_path):
    store = _store(tmp_path)
    w1 = spark.createDataFrame([("cat", 7)], "term string, weight_micro bigint")
    w2 = spark.createDataFrame([("cat", 8)], "term string, weight_micro bigint")
    v1 = save_model(store, spark, "m", "token_weights", w1)
    v2 = save_model(store, spark, "m", "token_weights", w2)
    assert v2 == v1 + 1
    back, _ = load_model(store, spark, "m")
    assert [tuple(r) for r in back.collect()] == [("cat", 8)]
    # model rollback is plain store time travel
    old = store.read_version(spark, "m", v1)
    assert [tuple(r) for r in old.collect()] == [("cat", 7)]


def test_bpe_merges_adapter_orders_by_step(spark, tmp_path):
    store = _store(tmp_path)
    rules = spark.createDataFrame(
        [(2, "ab", "c", "abc"), (1, "a", "b", "ab")],
        "step bigint, left_sym string, right_sym string, merged string")
    save_model(store, spark, "r", "bpe_merges", rules)
    back, _ = load_model(store, spark, "r", kind="bpe_merges")
    assert bpe_merges_from_model(back) == [("a", "b"), ("ab", "c")]


def test_centroid_adapters_round_trip_and_validate(spark, tmp_path):
    store = _store(tmp_path)
    cents = [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]]
    save_model(store, spark, "c", "ivf_centroids",
               centroids_to_frame(spark, cents), params={"k": 3})
    back, meta = load_model(store, spark, "c", kind="ivf_centroids")
    assert centroids_from_model(back) == cents
    assert meta["params"] == {"k": 3}
    gap = centroids_to_frame(spark, cents).filter(F.col("cell") != 1)
    with pytest.raises(ValueError, match="exactly 0..k-1"):
        centroids_from_model(gap)


def test_every_kind_has_a_nonempty_contract():
    for kind, cols in MODEL_KINDS.items():
        assert cols, kind


def test_persisted_weights_score_identically_to_inline(spark, tmp_path):
    """The f15 contract at function level: weights trained standalone,
    saved, and loaded back score the held-out split bit-identically to
    the inline linear_token_classifier (shared _weights_from_vocab
    fold + shared scoring expressions)."""
    from projectone_spark.functions.text import (
        apply_token_classifier,
        linear_token_classifier,
        token_weight_table,
    )

    docs = load(spark, SF_DIR, "documents")
    label, train = F.col("lang") == "en", F.col("doc_id") % 7 == 0
    store = _store(tmp_path)
    save_model(store, spark, "w", "token_weights",
               token_weight_table(docs, label=label, train=train))
    loaded, _ = load_model(store, spark, "w", kind="token_weights")
    applied = apply_token_classifier(docs.filter(~train), loaded)
    inline = linear_token_classifier(docs, label=label, train=train)
    a = {r["doc_id"]: (r["n_tokens"], r["logit_micro"], r["score_micro"],
                       r["pred"]) for r in applied.collect()}
    b = {r["doc_id"]: (r["n_tokens"], r["logit_micro"], r["score_micro"],
                       r["pred"]) for r in inline.collect()}
    assert a == b and len(a) > 0


def test_apply_from_counts_matches_apply(spark):
    """The shared-fold scorer (f15's apply tokenizes ONCE for classifier
    + BPE) must score bit-identically to the self-folding apply — same
    tokens() normalization, same model join, same integer close."""
    from projectone_spark.functions.text import (
        apply_token_classifier,
        apply_token_classifier_from_counts,
        bpe_doc_word_counts,
        token_weight_table,
    )

    docs = load(spark, SF_DIR, "documents")
    w = token_weight_table(docs, label=F.col("lang") == "en",
                           train=F.col("doc_id") % 7 == 0)
    a = apply_token_classifier(docs, w)
    b = apply_token_classifier_from_counts(
        bpe_doc_word_counts(docs), w, term_col="__w", count_col="__c")
    assert sorted(map(tuple, a.collect())) \
        == sorted(map(tuple, b.collect()))
    assert a.count() > 0


def test_select_f1_cutoff_breaks_ties_low(spark):
    from projectone_spark.functions.text import select_f1_cutoff

    calib = spark.createDataFrame(
        [(0, 500), (50_000, 900), (100_000, 900), (150_000, None)],
        "cutoff_micro bigint, f1_micro bigint")
    assert [tuple(r) for r in select_f1_cutoff(calib).collect()] \
        == [(50_000, 900)]


def test_knn_ivf_with_persisted_centroids_skips_training(spark, tmp_path,
                                                         monkeypatch):
    """The persisted-quantizer search path (e18): knn_ivf under loaded
    centroids must (1) match the inline-trained search bit-for-bit and
    (2) never call the trainer — the apply task's plan carries zero
    training work, the f15 contract applied to the ANN index."""
    import projectone_spark.functions.embeddings as E

    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    trained = E.ivf_train(emb, n_clusters=4)
    inline = E.knn_ivf(emb, queries, k=3, n_clusters=4, nprobe=4)

    store = _store(tmp_path)
    save_model(store, spark, "q", "ivf_centroids",
               centroids_to_frame(spark, trained),
               params={"n_clusters": 4})
    frame, _ = load_model(store, spark, "q", kind="ivf_centroids")
    loaded = centroids_from_model(frame)
    assert loaded == trained  # parquet round-trips doubles exactly

    def boom(*a, **k):  # the apply path must never train
        raise AssertionError("ivf_train called on the persisted path")
    monkeypatch.setattr(E, "ivf_train", boom)
    persisted = E.knn_ivf(emb, queries, k=3, nprobe=4, centroids=loaded)
    assert sorted(map(tuple, persisted.collect())) \
        == sorted(map(tuple, inline.collect()))


def test_plain_overwrite_strips_model_stamp(spark, tmp_path):
    """r9 review finding: the kind stamp used to carry forward across a
    PLAIN overwrite, so load_model would hand back junk with a
    valid-looking kind. Content-replacing commits must drop the stamp;
    content-preserving appends must keep it."""
    store = _store(tmp_path)
    w = spark.createDataFrame([("cat", 7)], "term string, weight_micro bigint")
    save_model(store, spark, "m", "token_weights", w)
    junk = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    store.overwrite(spark, junk, "m")
    with pytest.raises(ValueError, match="no model metadata"):
        load_model(store, spark, "m", kind="token_weights")
    # re-saving restores the stamp; an APPEND then keeps it
    save_model(store, spark, "m", "token_weights", w)
    store.append(spark, spark.createDataFrame(
        [("dog", 9)], "term string, weight_micro bigint"), "m")
    back, meta = load_model(store, spark, "m", kind="token_weights")
    assert meta["kind"] == "token_weights" and back.count() == 2


def test_maintenance_keeps_model_stamp(spark, tmp_path):
    """r9 advice finding: a Z-order (a content-preserving recluster of the
    same rows) and RESTORE (back to a version written by save_model) must
    keep the kind stamp — previously both stripped it permanently, so
    routine maintenance broke every downstream load_model."""
    from projectone_spark.store.maintenance import restore, zorder_cluster

    store = _store(tmp_path)
    w = spark.createDataFrame([("cat", 7), ("dog", 9)],
                              "term string, weight_micro bigint")
    v_model = save_model(store, spark, "m", "token_weights", w,
                         params={"scale": 1})
    zorder_cluster(store, spark, "m", ["term"], target_files=1)
    back, meta = load_model(store, spark, "m", kind="token_weights")
    assert meta["params"] == {"scale": 1} and back.count() == 2

    # stamp is dropped by a junk overwrite, then restored by RESTORE to
    # the save_model version (the restored version's stamp, not prev's)
    junk = spark.createDataFrame([(1,)], "a bigint")
    store.overwrite(spark, junk, "m")
    with pytest.raises(ValueError, match="no model metadata"):
        load_model(store, spark, "m")
    restore(store, "m", v_model)
    back, meta = load_model(store, spark, "m", kind="token_weights")
    assert meta["kind"] == "token_weights" and back.count() == 2

    # and restoring back to the junk version drops the stamp again
    restore(store, "m", v_model + 2)
    with pytest.raises(ValueError, match="no model metadata"):
        load_model(store, spark, "m")


def test_load_model_revalidates_required_columns(spark, tmp_path):
    """Belt and braces: even if a stale stamp survived, a loaded frame
    missing the kind's required columns must fail loudly."""
    store = _store(tmp_path)
    w = spark.createDataFrame([("cat", 7)], "term string, weight_micro bigint")
    save_model(store, spark, "m", "token_weights", w)
    # simulate stamp/content drift: junk committed under a model stamp
    junk = spark.createDataFrame([(1,)], "a bigint")
    store.overwrite(spark, junk, "m", manifest_extra={
        "model": {"kind": "token_weights", "params": {}}})
    with pytest.raises(ValueError, match="no longer carries required"):
        load_model(store, spark, "m", kind="token_weights")


def test_version_pinned_load_survives_concurrent_retrain(spark, tmp_path):
    """The f16 refresh contract: a scorer pinned to v1 keeps reading
    exactly v1's rows and v1's params while a retrain publishes v2 —
    including a frame loaded BEFORE the retrain committed (overwrite
    retains prior versions' data dirs; only vacuum drops them). Pinning
    to a non-save_model commit or an absent version fails loudly."""
    store = _store(tmp_path)
    w1 = spark.createDataFrame([("cat", 7)], "term string, weight_micro bigint")
    w2 = spark.createDataFrame([("cat", 8)], "term string, weight_micro bigint")
    v1 = save_model(store, spark, "m", "token_weights", w1,
                    params={"corpus": "t0"})
    held, hmeta = load_model(store, spark, "m", kind="token_weights",
                             version=v1)
    save_model(store, spark, "m", "token_weights", w2,
               params={"corpus": "t1"})
    # the frame held across the retrain still reads v1
    assert [tuple(r) for r in held.collect()] == [("cat", 7)]
    assert hmeta["params"] == {"corpus": "t0"}
    # a fresh pinned load agrees; unpinned picks up v2 with v2's params
    pinned, pmeta = load_model(store, spark, "m", version=v1)
    latest, lmeta = load_model(store, spark, "m")
    assert [tuple(r) for r in pinned.collect()] == [("cat", 7)]
    assert [tuple(r) for r in latest.collect()] == [("cat", 8)]
    assert pmeta["params"] == {"corpus": "t0"}
    assert lmeta["params"] == {"corpus": "t1"}
    # a junk overwrite between saves is not a loadable model version
    junk = spark.createDataFrame([(1,)], "a bigint")
    store.overwrite(spark, junk, "m")
    with pytest.raises(ValueError, match="no model metadata"):
        load_model(store, spark, "m", version=v1 + 2)
    with pytest.raises(FileNotFoundError, match="no version"):
        load_model(store, spark, "m", version=99)


def test_centroids_from_model_rejects_empty(spark):
    with pytest.raises(ValueError, match="empty"):
        centroids_from_model(spark.createDataFrame(
            [], "cell int, centroid array<double>"))


def test_pinned_load_of_vacuumed_version_fails_clearly(spark, tmp_path):
    """A pinned load whose data dirs were vacuumed must surface the
    restore-style vacuumed-version error, not a raw Spark path error
    (read_version owns the check for every pinned reader)."""
    from projectone_spark.store.maintenance import vacuum

    store = _store(tmp_path)
    w1 = spark.createDataFrame([("cat", 7)], "term string, weight_micro bigint")
    w2 = spark.createDataFrame([("cat", 8)], "term string, weight_micro bigint")
    v1 = save_model(store, spark, "m", "token_weights", w1)
    save_model(store, spark, "m", "token_weights", w2)
    vacuum(store, "m", keep_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        load_model(store, spark, "m", version=v1)


def test_unpinned_load_reads_the_rows_of_its_stamp(spark, tmp_path,
                                                  monkeypatch):
    """A save that lands between reading the stamp and reading the frame
    cannot pair one version's stamp with the next version's rows."""
    store = _store(tmp_path)
    w1 = spark.createDataFrame([("cat", 7)], "term string, weight_micro bigint")
    w2 = spark.createDataFrame([("cat", 8)], "term string, weight_micro bigint")
    save_model(store, spark, "m", "token_weights", w1, params={"corpus": "t0"})
    read = TableStore.read

    def read_after_a_save(self, *args, **kwargs):
        monkeypatch.setattr(TableStore, "read", read)
        save_model(store, spark, "m", "token_weights", w2,
                   params={"corpus": "t1"})
        return read(self, *args, **kwargs)

    monkeypatch.setattr(TableStore, "read", read_after_a_save)
    frame, meta = load_model(store, spark, "m")
    assert store.version("m") == 1
    assert meta["params"] == {"corpus": "t0"}
    assert [tuple(r) for r in frame.collect()] == [("cat", 7)]
