"""Tokenizer and scoring paths of ``projectone_spark/functions/text.py``:

- BPE training: replay-window checkpointing and training from shared
  (doc, word) counts learn the same rule table, and the rule table
  re-collects without a job;
- the spread() + plain-explode reshaping keeps row sets identical on the
  degenerate inputs (empty/punctuation-only/NULL texts, empty token
  arrays), and spread(by=key) plans one exchange.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def test_bpe_merge_checkpoint_window_invariant(spark, monkeypatch):
    """The r12 replay-window checkpointing in bpe_train_merges must not
    change the learned rules: window 1 (the old every-step behavior)
    and the default window yield identical merge tables."""
    import projectone_spark.functions.text as text

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cats chat that matter"),
         (3, "scatter the chatter"), (4, "that cat that sat")],
        "doc_id long, text string")
    want = text.bpe_train_merges(docs, n_merges=6).collect()
    monkeypatch.setattr(text, "_BPE_CKPT_EVERY", 1)
    got = text.bpe_train_merges(docs, n_merges=6).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_bpe_train_from_counts_bit_identical(spark):
    """Training from the shared (doc, word) counts must learn the exact
    rule table the corpus-scan trainer learns — the word-frequency fold
    is an integer identity (count of occurrences == sum of per-doc
    counts), so every argmax sees identical pair counts."""
    from projectone_spark.functions.text import (
        bpe_doc_word_counts, bpe_train_merges, bpe_train_merges_from_counts)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the cat sat on the mat", "the cat", "a cat ate the hat",
             "aaaa aaa the the the", "mat hat cat bat", ""])],
        "doc_id long, text string")
    want = [tuple(r) for r in
            bpe_train_merges(docs, n_merges=6).collect()]
    got = [tuple(r) for r in
           bpe_train_merges_from_counts(bpe_doc_word_counts(docs),
                                        n_merges=6).collect()]
    assert want == got and len(want) > 0


def test_trained_rules_frame_collects_without_a_job(spark):
    """bpe_train_merges returns its bounded rule table as a VALUES
    LocalRelation — re-collecting it (what every consumer does) must
    run ZERO jobs, where the old 32-slice pickled RDD ran a
    32-Python-task job per action (0.4-3 s each in the bench)."""
    from projectone_spark.functions.text import bpe_train_merges

    docs = spark.createDataFrame([(1, "ab ab cd")], "doc_id long, text string")
    rules = bpe_train_merges(docs, n_merges=2)
    rules.collect()  # materialize once
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    assert len(rules.collect()) > 0
    assert store.jobsList(None).size() == before


def test_bpe_doc_word_counts_degenerate_rows(spark, degenerate_docs):
    """The spread + plain-explode shape must drop empty/NULL/
    punctuation-only docs (no tokens, so no exploded rows)."""
    from projectone_spark.functions.text import bpe_doc_word_counts

    wf = bpe_doc_word_counts(degenerate_docs)
    rows = {(r["doc_id"], r["__w"]): r["__c"] for r in wf.collect()}
    assert rows == {(1, "the"): 1, (1, "cat"): 1, (1, "sat"): 1,
                    (5, "cat"): 2, (5, "the"): 1}


def test_surprisal_folds_degenerate_rows(spark, degenerate_docs):
    """uni/bigram surprisal over degenerate docs: only docs with >= 1
    token (unigram) / >= 2 tokens (bigram) emit rows, and the scores
    fold the same integers as before the spread reshaping."""
    from projectone_spark.functions.text import (
        bigram_surprise,
        unigram_surprise,
    )

    uni = {r["doc_id"]: (r["n_tokens"], r["surprise_micro"])
           for r in unigram_surprise(degenerate_docs).collect()}
    assert set(uni) == {1, 5}
    assert uni[1][0] == 3 and uni[5][0] == 3
    # corpus: the=2, cat=3, sat=1, N=6 -> micro = 1e6*6 div c
    assert uni[1][1] == (6_000_000 // 2) + (6_000_000 // 3) + 6_000_000
    bi = {r["doc_id"]: (r["n_bigrams"], r["surprise_micro"])
          for r in bigram_surprise(degenerate_docs).collect()}
    assert set(bi) == {1, 5}
    assert bi[1][0] == 2 and bi[5][0] == 2


def test_spread_by_key_partitioning_reused(spark):
    """spread(by=id) must plan the downstream (id, w) aggregate with ONE
    exchange — the partitioning-reuse contract the r13 tokenizer shape
    relies on."""
    from projectone_spark.functions.text import spread, tokens

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id bigint, text string")
    agg = (spread(docs.select("doc_id", "text"), by="doc_id")
           .select(F.col("doc_id"),
                   F.explode(tokens("text")).alias("__w"))
           .filter(F.col("__w") != "")
           .groupBy("doc_id", "__w").count())
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # the plain-explode precondition: the inline tokens() chain must not
    # draw an inferred size() filter that pushdown drags below the
    # exchange (it would re-derive the tokenize in the serial map task).
    # Everything printed after the Exchange line is the exchange's INPUT
    # subtree in explain output — no tokenize chain may appear there.
    below_exchange = plan.split("Exchange")[-1]
    assert "regexp_replace" not in below_exchange, plan
