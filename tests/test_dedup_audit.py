"""functions/dedup.py: the MinHash-LSH recall audit (verdicts on
constructed duplicates, sample-bounding, exact-Jaccard arithmetic,
validation) and the winnowing empty-doc gate."""

import pyspark.sql.functions as F
import pytest

from projectone_spark.functions.dedup import lsh_recall_audit

from tests.conftest import SF_DIR as SF


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_audit_identical_docs_true_and_candidate(spark):
    """Verbatim copies have Jaccard 1 (true duplicates) and identical
    minhashes (same band), so they must surface as candidate hits."""
    body = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, body) for i in range(4)] + \
           [(i, f"totally unrelated text number {i} with its own words")
            for i in range(10, 16)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = lsh_recall_audit(df, sample_n=16).collect()
    copies = [r for r in out
              if r["doc_id_a"] < 4 and r["doc_id_b"] < 4]
    assert len(copies) == 6  # all C(4,2) pairs surface
    for r in copies:
        assert r["is_true"] and r["is_candidate"]
        assert r["jaccard_micro"] == 1_000_000
        assert r["est_micro"] == 1_000_000
        assert r["n_inter"] == r["n_union"]
    # cross-group pairs (a copy vs a filler doc) share almost nothing —
    # never true duplicates (filler-vs-filler pairs ARE near-dups of
    # each other by construction, one digit apart, and rightly flagged)
    assert not any(r["is_true"] for r in out
                   if r["doc_id_a"] < 4 and r["doc_id_b"] >= 10)


def test_audit_rows_are_candidates_or_true(spark):
    out = lsh_recall_audit(_docs(spark), sample_n=64).collect()
    assert out  # banding always surfaces some pairs
    for r in out:
        assert r["is_true"] or r["is_candidate"]
        assert 0 <= r["n_inter"] <= r["n_union"]
        assert r["jaccard_micro"] == (1_000_000 * r["n_inter"]) // r["n_union"]
        assert (r["est_micro"] is None) == (not r["is_candidate"])
        assert r["is_true"] == (2 * r["n_inter"] >= r["n_union"])


def test_audit_sample_bounded(spark):
    """Only the sample_n smallest md5 draws participate — the pair
    domain is bounded regardless of corpus size."""
    docs = _docs(spark)
    out = lsh_recall_audit(docs, sample_n=32)
    ids = {r["doc_id"] for r in
           docs.select(
               F.md5(F.concat(F.lit("d16:"),
                              F.col("doc_id").cast("string"))
                     .cast("binary")).alias("d"), "doc_id")
           .orderBy("d", "doc_id").limit(32).collect()}
    for r in out.collect():
        assert r["doc_id_a"] in ids and r["doc_id_b"] in ids


def test_audit_validates_params(spark):
    with pytest.raises(ValueError, match="sample_n must be > 1"):
        lsh_recall_audit(_docs(spark), sample_n=1)
    with pytest.raises(ValueError, match="tau must be a rational"):
        lsh_recall_audit(_docs(spark), tau=(3, 2))
    with pytest.raises(ValueError, match="tau must be a rational"):
        lsh_recall_audit(_docs(spark), tau=(0, 1))
    with pytest.raises(ValueError, match="num_hashes must be positive"):
        lsh_recall_audit(_docs(spark), num_hashes=0)


def test_winnow_gate_matches_normalize_emptiness(spark, degenerate_docs):
    """The rlike empty-doc gate must admit exactly the docs whose
    normalize() is nonempty (the old length(__norm) > 0 gate)."""
    from projectone_spark.functions.dedup import winnow_fingerprints
    from projectone_spark.functions.text import normalize

    fp = winnow_fingerprints(degenerate_docs)
    kept_ids = {r["doc_id"] for r in fp.select("doc_id").distinct().collect()}
    expect = {r["doc_id"] for r in degenerate_docs
              .filter(F.length(normalize("text")) > 0).collect()}
    assert kept_ids == expect == {1, 5}
