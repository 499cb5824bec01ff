"""Deduplication operators: exact hash, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup is a single hash-keyed aggregation (one shuffle on a 16-byte
  key, map-side partial);
- MinHash signatures are computed scan-side from a *materialized* normalized
  column (never recompute the normalize chain inside a per-shingle lambda),
  and only (id, signature) tuples ever shuffle — never the documents;
- candidate verification (Jaccard) runs only within LSH buckets, so the
  quadratic blow-up is bounded by bucket size, not corpus size.

All expressions are Catalyst built-ins (md5 / transform / aggregate /
array_*): no Python worker runs. On Spark 4.1 ``transform``, ``filter``
and ``aggregate`` are ``CodegenFallback`` expressions, so the stage is
generated but those lambdas run interpreted inside it. An explode plus
grouped-min rewrite of :func:`minhash_signatures` measured no faster
(1.2-1.6 s against 1.0-1.2 s warm on the ~390-doc benchmark corpus,
4 vCPU, ``local[2]``): md5 dominates either way.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import (
    ByteType,
    DataType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from projectone_spark.functions.text import (
    ngram_join,
    normalize,
    normalizes_nonempty,
    spread,
    tokens_of_norm,
)
from projectone_spark.session import release_checkpoint


def content_hash_of_norm(norm: Column | str) -> Column:
    c = F.col(norm) if isinstance(norm, str) else norm
    return F.md5(c.cast("binary"))


def content_hash(col: Column | str) -> Column:
    """Exact-dup key: md5 of normalized text."""
    return content_hash_of_norm(normalize(col))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                parallelism: int | None = None) -> DataFrame:
    """One row per distinct normalized text: the minimum id wins, with the
    duplicate count. Single hash aggregation — the canonical exact-dedup
    plan at any scale."""
    # hash-spread the raw rows by the unique id and hash AFTER the
    # exchange (r13): projected below it, the md5/normalize chain ran
    # inside the serial one-per-input-split map task
    base = (spread(df.select(F.col(id_col), F.col(text_col)), parallelism,
                   by=id_col)
            .select(F.col(id_col),
                    content_hash(text_col).alias("content_md5")))
    return (base.groupBy("content_md5")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("n_dups")))


def shingles_of_norm(norm: Column | str, k: int = 5) -> Column:
    """Character k-gram shingle array over an already-normalized column
    (short texts yield the whole text as one shingle)."""
    c = F.col(norm) if isinstance(norm, str) else norm
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n),
                       lambda i: F.substring(c, i, F.lit(k)))


def minhash_sig_cols(shingle_col: Column | str,
                     num_hashes: int = 4) -> list[Column]:
    """Seeded-md5 minhash columns over a DISTINCT-shingle array column:
    ``mh_i = min over shingles of md5(i || shingle)`` — THE one
    definition of the d03 recipe, shared by :func:`minhash_signatures`
    and :func:`lsh_recall_audit` so the calibration audit always
    measures the configuration the index actually ships.

    md5-based so an external oracle (DuckDB) can reproduce values
    exactly; lexicographic min over hex strings is a valid uniform
    min-hash."""
    if num_hashes <= 0:
        raise ValueError(f"num_hashes must be positive, got {num_hashes}")
    col = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col

    # NB: factory instead of `lambda s, i=i`: pyspark passes the array index
    # to any two-parameter callable given to F.transform.
    def seeded_hash(seed: str):
        return lambda s: F.md5(F.concat(F.lit(seed), s).cast("binary"))

    return [F.array_min(F.transform(col, seeded_hash(str(i))))
            for i in range(num_hashes)]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 4,
                       k: int = 5, parallelism: int | None = None) -> DataFrame:
    """MinHash via seeded md5 over char-k-gram shingles (the
    :func:`minhash_sig_cols` recipe), one row per document."""
    # spread raw rows by the unique id; normalize after the exchange
    # (r13 — the serial-map-task reason documented at exact_dedup)
    base = (spread(df.select(F.col(id_col), F.col(text_col)), parallelism,
                   by=id_col)
            .select(F.col(id_col), normalize(text_col).alias("__norm")))
    base = base.withColumn("__sh", F.array_distinct(shingles_of_norm("__norm", k)))
    sig = [c.alias(f"mh{i}")
           for i, c in enumerate(minhash_sig_cols("__sh", num_hashes))]
    return base.select(F.col(id_col), *sig)


def triangle_self_join(df: DataFrame, key_cols: Sequence[str],
                       id_col: str, blocks: int = 8) -> DataFrame:
    """Skew-spreading within-key self-join scaffold: emits each unordered
    pair of distinct rows sharing ``key_cols`` EXACTLY once, with the
    shuffle key extended by the ORDERED block pair — the join equi-keys
    are ``key_cols + (a.__blk = b.__i, a.__j = b.__blk)``, so one hot key
    spreads over blocks·(blocks+1)/2 reducer keys. (Keying only the
    target block — this helper's pre-r6 shape — spreads over just
    ``blocks`` keys with triangular skew: the reducer for the top block
    carries ~2/blocks of the whole key's quadratic work.)

    Both sides replicate ~(blocks+1)/2×: the left explodes to every
    block ≥ its own, the right to every block ≤ its own — the doubled
    shuffle volume of narrow rows buys the even spread. Same-block pairs
    carry ``a.id < b.id``; cross-block pairs put the lower BLOCK on side
    ``a`` (id order across sides is arbitrary — order ids downstream
    with least/greatest).
    """
    banded = df.withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)))
    left = (banded.withColumn(
        "__j", F.explode(F.sequence(F.col("__blk"), F.lit(blocks - 1))))
        .alias("a"))
    right = (banded.withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.col("__blk"))))
        .alias("b"))
    cond = (F.col("a.__blk") == F.col("b.__i")) \
        & (F.col("a.__j") == F.col("b.__blk")) \
        & ((F.col("a.__blk") != F.col("b.__blk"))
           | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))) \
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
    for c in key_cols:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    return left.join(right, cond)


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 4,
                        k: int = 5, band_chars: int | None = None,
                        blocks: int = 1,
                        parallelism: int | None = None) -> DataFrame:
    """LSH banding: bucket docs by a prefix of the first minhash and emit
    within-bucket pairs with their estimated Jaccard (fraction of equal
    minhashes). Only (band, id, signature) tuples shuffle; the signature
    frame is checkpointed once (lineage truncation — the reference's
    ``stage_results`` knob, sources.py:161-169) so the self-join's two
    branches don't recompute the shingle/hash pipeline.

    ``blocks`` > 1 routes the within-bucket self-join through
    :func:`triangle_self_join`: the join key becomes (band, ordered block
    pair), so a single hot bucket spreads over blocks·(blocks+1)/2
    reducer keys with even per-key load. The pair set is identical for
    any ``blocks`` — at corpus scale, where one popular shingle can put a
    large fraction of documents into one bucket, this is what keeps the
    quadratic bucket work off a single reducer.

    ``band_chars=None`` (default) sizes the bucket count to the corpus
    via :func:`auto_band_chars` — the same sizing
    :func:`lsh_recall_audit` defaults to, so the default audit measures
    the banding the default index actually ships at that corpus size.
    The corpus size is an observed metric of the signature checkpoint,
    which is then eager: no separate count job scans the input.
    Pass an explicit width only for parity with a fixed external
    partitioning (the incremental index path,
    :func:`incremental_lsh_pairs`, needs the FIXED width its standing
    band table was built with)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k, parallelism)
    if band_chars is None:
        # one signature row per input row: the checkpoint's own job counts
        # the corpus, where a separate count() would scan it again
        rows = Observation()
        sigs = (sigs.observe(rows, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True))
        band_chars = auto_band_chars(rows.get["n"])
    else:
        sigs = sigs.localCheckpoint(eager=False)
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    banded = sigs.withColumn("band", F.substring(F.col("mh0"), 1, band_chars))
    if blocks > 1:
        pairs = triangle_self_join(banded, ["band"], id_col, blocks)
        id_a = F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
        id_b = F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
    else:
        a, b = banded.alias("a"), banded.alias("b")
        pairs = a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        id_a, id_b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    eq_terms = [F.when(F.col(f"a.{c}") == F.col(f"b.{c}"), 1).otherwise(0)
                for c in mh_cols]
    est = sum(eq_terms[1:], eq_terms[0]).cast("double") / F.lit(float(num_hashes))
    return pairs.select(id_a.alias("doc_id_a"),
                        id_b.alias("doc_id_b"),
                        F.round(est, 4).alias("est_jaccard"))


def simhash_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  parallelism: int | None = None) -> DataFrame:
    """16-bit SimHash: bit_j = sign of Σ_tokens (hexval(md5(tok)[j]) - 7.5).

    Hex-digit arithmetic keeps it reproducible in any engine with md5 +
    string ops. Output column ``simhash`` is the 16-char bit string.
    """
    base = (spread(df.select(F.col(id_col), F.col(text_col)), parallelism,
                   by=id_col)
            .select(F.col(id_col), normalize(text_col).alias("__norm")))
    base = base.withColumn("__toks", F.array_distinct(tokens_of_norm("__norm")))
    # hash each distinct token once; bits reuse the materialized hash array
    base = base.withColumn("__th", F.transform(F.col("__toks"),
                                               lambda t: F.md5(t.cast("binary"))))

    def digit_contrib(j: int):
        return lambda h: (F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1))
                          .cast("double") - F.lit(8.5))

    bits = []
    for j in range(1, 17):
        total = F.aggregate(F.transform(F.col("__th"), digit_contrib(j)),
                            F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(total > 0, F.lit("1")).otherwise(F.lit("0")))
    return base.select(F.col(id_col), F.concat(*bits).alias("simhash"))


#: auto_band_chars thresholds: smallest c in [2..8] with n <= 64 * 16**c,
#: i.e. expected bucket size stays <= ~64 docs however large the corpus.
#: Exact integers so a SQL oracle can reproduce the choice bit-for-bit.
#: (Target tuned empirically: at 100k docs a 1024-doc target left 256
#: buckets and ~39M within-bucket pairs — 41 s; the 64-doc target gives
#: 4096 buckets and ~2.4M pairs. Expected pair work is n²/16**c, so the
#: target bounds per-bucket work at any corpus size; 100 TB ⇒ c=8.)
_BAND_THRESHOLDS: tuple[tuple[int, int], ...] = tuple(
    (64 * 16 ** c, c) for c in range(2, 8))


def auto_band_chars(n_docs: int) -> int:
    """Hex-prefix width whose 16**c buckets keep expected bucket size
    <= ~64 docs: the within-bucket pair join is O(sum b_i^2), so a FIXED
    width is quadratic in corpus size while this bound keeps per-bucket
    work constant as data grows."""
    for limit, c in _BAND_THRESHOLDS:
        if n_docs <= limit:
            return c
    return 8


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", band_chars: int | None = None,
                        threshold: float = 0.0,
                        parallelism: int | None = None) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs bucketed by a coarse
    content-hash prefix. The exact verifier behind the MinHash estimate.

    ``band_chars=None`` (default) sizes the bucket count to the corpus via
    :func:`auto_band_chars` — one cheap count() of the id column, bounded
    driver state. Pass an explicit width only for parity with a fixed
    external partitioning.
    """
    if band_chars is None:
        band_chars = auto_band_chars(df.count())
    # heavy projection stays BELOW the exchange here, unlike the other
    # r13 spread sites: the banded SELF-JOIN reads this exchange twice,
    # and shuffle-file reuse then delivers the normalize/hash chain to
    # both branches computed once — above the exchange each branch
    # re-derives it (measured 3x the CPU at sf0.1)
    base = spread(df.select(F.col(id_col), normalize(text_col).alias("__norm")),
                  parallelism)
    toks = base.select(
        F.col(id_col),
        F.array_distinct(tokens_of_norm("__norm")).alias("toks"),
        F.substring(content_hash_of_norm("__norm"), 1, band_chars).alias("band"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = (F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter)
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (pairs.select(F.col(f"a.{id_col}").alias("doc_id_a"),
                         F.col(f"b.{id_col}").alias("doc_id_b"),
                         F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5, w: int = 4,
                        parallelism: int | None = None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram,
    slide a window of ``w`` consecutive hashes, and keep each window's
    MINIMUM. The guarantee that makes it the standard local-copy
    detector: any shared substring of length ``k + w - 1`` contributes at
    least one COMMON fingerprint to both documents, while the selected
    set is only ~``2/(w+1)`` of all grams — a principled sampling that
    full-shingle joins (d05) don't get.

    Determinism across engines: grams hash through the first 8 md5 hex
    digits (engine-portable BIGINT, the same recipe as
    ``sampling.md5_bucket``), and a window's fingerprint is the VALUE
    minimum — identical in any engine whatever position tie-break an
    implementation would use, so the fingerprint SET is reproducible
    bit-for-bit without the positional bookkeeping the paper's robust
    variant needs.

    Scan-side end-to-end: gram hashes, window minima, and the per-doc
    ``array_distinct`` are one projection chain over the normalized text
    — the corpus never shuffles until the (doc, fingerprint) explode
    aggregates. Short documents (fewer than ``w`` grams) yield their
    single all-gram window; empty ones drop.

    Returns the exploded (id, fp) fingerprint table, distinct per doc.
    """
    # repartition the RAW (id, text) rows and normalize AFTER the
    # exchange (r13, guide §1.2 step 1): with normalize below it, the
    # round-robin shuffle's map stage — one task per input split, a
    # single task on a one-file table — paid the whole regex chain
    # serially (measured 2.5 s at sf0.1) while the 32 post-exchange
    # tasks waited; round-robin placement is value-independent, so the
    # fingerprint SET is unchanged
    # the empty-doc gate is expressed on the RAW text: written as
    # length(__norm) > 0 it pushes below the exchange and re-derives the
    # whole regex chain serially in the map task; rlike early-exits at
    # the first match
    base = (spread(df.select(F.col(id_col), F.col(text_col)), parallelism)
            .filter(normalizes_nonempty(text_col))
            .select(F.col(id_col), normalize(text_col).alias("__norm")))
    # __norm / __h are each referenced multiple times downstream, which
    # inhibits CollapseProject from inlining the chains into the
    # per-element lambdas (rule #1 in functions/text.py's module doc)
    hashed = base.withColumn("__h", F.expr(
        f"transform(sequence(1, greatest(length(__norm) - {k - 1}, 1)),"
        f" i -> cast(conv(substr(md5(substring(__norm, i, {k})), 1, 8),"
        " 16, 10) as bigint))"))
    wins = hashed.withColumn("__fps", F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(__h) - {w - 1},"
        f" 1)), j -> array_min(slice(__h, j, {w}))))"))
    # explode_OUTER, deliberately: a plain explode makes
    # InferFiltersFromGenerate add `size(__fps) > 0`, which pushdown
    # drags through the exchange and inlines as a per-row filter that
    # re-derives __fps (and, nested inside it, the whole __h gram-hash
    # array per window) from raw text — O(n³) per document, a hang at
    # 300-char texts. Outer explode skips that inference, and it is
    # value-identical here: every row passing the length(__norm) > 0
    # gate yields ≥ 1 window (the greatest(…, 1) bounds), so __fps is
    # never empty and no null fp rows can appear.
    return wins.select(F.col(id_col), F.explode_outer("__fps").alias("fp"))


def winnow_fingerprint_pairs(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", k: int = 5, w: int = 4,
                             max_df: int = 128, min_shared: int = 1,
                             parallelism: int | None = None) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints, with
    exact Jaccard over the kept fingerprint sets — MOSS's match step.

    ``max_df`` drops STOP fingerprints (ones appearing in more than
    ``max_df`` documents — boilerplate headers, licence blocks) before
    pair generation, exactly as MOSS drops over-shared grams. That cap is
    also the scale bound: the fingerprint equi-join's per-key work is
    ≤ ``max_df²``, so total pair work is O(distinct_fps × max_df²) —
    never the unbounded hot-bucket quadratic a popular gram would cause.
    Jaccard and its ≥½ keep-gate are computed on the capped sets with the
    threshold as an exact INTEGER compare (``2·shared ≥ union``), so the
    gate can never diverge across engines on a float boundary.

    ``min_shared`` is MOSS's minimum-match floor: on a LOW-GRAM-DIVERSITY
    corpus the stop-cap discards most fingerprint mass and the surviving
    per-doc sets are tiny, so single-fingerprint coincidences clear the
    Jaccard gate (probe-measured: a 100k-doc synthetic corpus with ~3%
    true near-dups emitted 1.7M pairs at the default; requiring ≥3
    shared fingerprints suppresses the noise without touching real
    near-dup pairs, whose kept sets overlap heavily). Default 1 keeps
    the original MOSS gate.

    Returns (doc_id_a, doc_id_b, n_shared, n_fp_a, n_fp_b, sim) for
    pairs with sim ≥ 0.5 and n_shared ≥ ``min_shared``.
    """
    # EAGER checkpoint of the exploded fingerprint table: the stop-gram
    # count (a broadcast-build job), the join's probe side and the
    # per-doc size aggregate are SEPARATE jobs under AQE, and exchange
    # reuse does not span jobs — un-checkpointed, the gram-hash +
    # window-minima chain (the stage's real compute) ran 3 times
    # (r13 stage probe: 38.7 + 26.4 + 12.1 s of task time for one
    # ~30 s evaluation). DISK_ONLY like every corpus-sized checkpoint
    # (the bpe_doc_word_counts discipline); eager, because concurrent
    # broadcast-build jobs racing a lazy checkpoint each recompute the
    # partitions they touch before blocks register.
    from pyspark import StorageLevel

    fp = (winnow_fingerprints(df, text_col, id_col, k, w, parallelism)
          .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY))
    dfreq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    kept = (fp.join(dfreq.filter(F.col("__df") <= max_df).select("fp"), "fp")
            .localCheckpoint(eager=False))  # the self-join's two branches
    # and the size aggregate reuse the filtered table instead of
    # re-running the winnow chain three times
    nf = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("doc_id_a"),
                      F.col(f"b.{id_col}").alias("doc_id_b"))
             .agg(F.count(F.lit(1)).alias("n_shared")))
    na = nf.select(F.col(id_col).alias("doc_id_a"), F.col("n_fp").alias("n_fp_a"))
    nb = nf.select(F.col(id_col).alias("doc_id_b"), F.col("n_fp").alias("n_fp_b"))
    union = F.col("n_fp_a") + F.col("n_fp_b") - F.col("n_shared")
    # 6-dp HALF-UP in integer arithmetic (shared/union ≤ 1, so no whole
    # part): round(double, 6) can diverge across engines on .xx5 IEEE
    # midpoints (the dsir/bm25 tie class); (2·s·1e6 + u) div (2·u) is the
    # exact half-up numerator and the closing divide of two exact
    # integers is one correctly-rounded IEEE op in both engines
    return (pairs.join(na, "doc_id_a").join(nb, "doc_id_b")
            .filter((2 * F.col("n_shared") >= union)
                    & (F.col("n_shared") >= int(min_shared)))
            .select("doc_id_a", "doc_id_b", "n_shared", "n_fp_a", "n_fp_b",
                    (F.expr("(2000000 * n_shared"
                            " + (n_fp_a + n_fp_b - n_shared))"
                            " div (2 * (n_fp_a + n_fp_b - n_shared))")
                     .cast("double") / F.lit(1000000.0)).alias("sim")))


#: Spark's ``defaultSize`` in bytes of each node id type the driver path
#: takes. numpy orders these exactly as Spark does (a UTF-8 string's
#: code-point order is its byte order); floats take the rounds, because
#: NaN and -0.0 order differently in Python and Spark, and so does every
#: other type, collated strings included.
_ID_BYTES = {ByteType(): 1, ShortType(): 2, IntegerType(): 4, LongType(): 8,
             StringType(): 20}


def component_minima(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Union-find over nodes ``0..n-1`` and the edges ``(u[i], v[i])``:
    each node's label is the smallest node number in its component.

    Vectorised: every round hooks the larger root of each edge that still
    spans two trees under the smaller one (``np.minimum.at``), then
    pointer-jumps until every node points at its root. A node's parent is
    never larger than the node, so the last root of a component is its
    minimum."""
    parent = np.arange(n)
    while True:
        pu, pv = parent[u], parent[v]
        split = pu != pv
        if not split.any():
            return parent
        u, v, pu, pv = u[split], v[split], pu[split], pv[split]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _driver_edge_cap(spark: SparkSession, id_type: DataType) -> int:
    """Most edges of ``id_type`` the driver path collects: Spark's
    broadcast threshold, in bytes through Spark's own conf parser, over
    the default size of two ids. 0 (the rounds) for a threshold <= 0 and
    for id types outside ``_ID_BYTES``."""
    size = _ID_BYTES.get(id_type)
    if size is None:
        return 0
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return max(threshold, 0) // (2 * size)


def _components_table(pairs: pa.Table, id_out: str) -> pa.Table:
    """The rounds' output rows, from the collected edge list: every
    non-NULL endpoint labelled with its component's minimum id, and one
    ``(NULL, NULL)`` row if any endpoint is NULL (a NULL never equals a
    join key, so the rounds leave it alone with its own NULL label)."""
    m = pairs.num_rows
    ends = pa.chunked_array(pairs.column(0).chunks + pairs.column(1).chunks,
                            type=pairs.schema.field(0).type)
    valid = pc.is_valid(ends).to_numpy()
    ids, index = np.unique(pc.drop_null(ends).to_numpy(), return_inverse=True)
    at = np.full(2 * m, -1, dtype=np.int64)
    at[valid] = index
    u, v = at[:m], at[m:]
    both = (u >= 0) & (v >= 0)
    cols = [pa.array(ids, type=ends.type),
            pa.array(ids[component_minima(u[both], v[both], len(ids))],
                     type=ends.type)]
    if not valid.all():
        cols = [pa.concat_arrays([c, pa.nulls(1, ends.type)]) for c in cols]
    return pa.Table.from_arrays(cols, names=[id_out, "component"])


def connected_components(edges: DataFrame, src: str = "doc_id_a",
                         dst: str = "doc_id_b", id_out: str = "doc_id",
                         max_iters: int = 20) -> DataFrame:
    """Connected components over a pair list: one row per node id (every
    endpoint), labelled with the smallest id in its component.

    Near-dup grouping is its use here: LSH pairs are edges, a component is
    the transitive closure "these documents are all copies of one thing",
    and downstream keeps one representative per component (cf. d07's
    per-bucket keep-best).

    Two paths, chosen by the size of the edge list:

    - *Driver.* Spark already ships any relation below
      ``spark.sql.autoBroadcastJoinThreshold`` to every task, so an edge
      list under that many bytes (at Spark's default size of the id type,
      two ids per edge: 4,194,304 long edges at the engine's ``64m``) is
      collected in one job (``limit(cap + 1)``) and labelled by
      :func:`component_minima` on the driver. The result is a local
      relation, read with no further job. A threshold <= 0 (Spark's
      ``-1``) sends every input to the rounds; so do float ids and any
      type not in ``_ID_BYTES``.
    - *Rounds.* Above the bound, hash-min label propagation: every node
      starts labeled with its own id; each round takes the min of its own
      and its neighbors' labels; converged when no label changes.
      Deterministic, O(graph diameter) rounds of one shuffle-join each.
      ``localCheckpoint`` each round truncates the lineage the loop would
      otherwise stack (the reference's ``stage_results`` knob,
      sources.py:161-169).

    Both paths return the same rows and schema for the same input,
    self-loops, duplicate and reversed edges included. A NULL endpoint
    joins nothing: its partner keeps its own component, and one
    ``(NULL, NULL)`` row appears.

    ``max_iters`` bounds the rounds only: they raise ``RuntimeError``
    rather than return labels that have not converged. The driver path is
    exact and never raises.
    """
    sym = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .unionByName(edges.select(F.col(dst).alias("s"),
                                     F.col(src).alias("d"))))
    node = sym.schema["s"]  # the id type and nullability both paths return
    spark = edges.sparkSession
    cap = _driver_edge_cap(spark, node.dataType)
    if cap > 0:
        pairs = (edges.select(F.col(src).cast(node.dataType).alias("s"),
                              F.col(dst).cast(node.dataType).alias("d"))
                 .limit(cap + 1).toArrow())
        if pairs.num_rows <= cap:
            schema = StructType([
                StructField(name, node.dataType, node.nullable)
                for name in (id_out, "component")])
            return spark.createDataFrame(_components_table(pairs, id_out),
                                         schema)
        del pairs  # over the bound: free the driver copy before the rounds
    # checkpoint the edge list ONCE: its lineage is typically the whole
    # LSH/minhash pipeline, which would otherwise recompute in every
    # round's neighbor join
    sym = sym.localCheckpoint(eager=False)
    labels = (sym.select(F.col("s").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    changed = -1
    prev = None
    for _ in range(max_iters):
        neighbor_min = (sym.join(labels, sym["d"] == labels["node"])
                        .groupBy("s").agg(F.min("label").alias("nmin")))
        # new label + changed flag in ONE checkpointed pass; the
        # convergence count is then a scan of the checkpoint, not a join
        stepped = (labels.join(neighbor_min,
                               labels["node"] == neighbor_min["s"], "left")
                   .select(labels["node"],
                           F.least(labels["label"],
                                   F.coalesce(F.col("nmin"), labels["label"]))
                           .alias("label"),
                           (F.coalesce(F.col("nmin"), labels["label"])
                            < labels["label"]).alias("__chg"))
                   .localCheckpoint(eager=True))
        if prev is not None:
            # the new round's checkpoint is materialized — free the prior
            # round's blocks (they would otherwise accumulate one label
            # table per round for the session's lifetime)
            release_checkpoint(prev)
        prev = stepped
        changed = stepped.filter(F.col("__chg")).count()
        labels = stepped.drop("__chg")
        if changed == 0:
            break
    if changed != 0:
        # returning partial labels would silently split components
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — rounds "
            f"needed grow with the graph diameter")
    # the returned labels read the LAST round's checkpoint only — the edge
    # list is dead once the loop converges
    release_checkpoint(sym)
    return labels.select(F.col("node").alias(id_out),
                         F.col("label").alias("component"))


def source_overlap(df: DataFrame, text_col: str = "text",
                   group_col: str = "source", k: int = 5) -> DataFrame:
    """Pairwise corpus-overlap matrix between sources: Jaccard similarity
    of each source's DISTINCT char-k-gram shingle set — the
    contamination-matrix view of the corpus (which crawls/dumps share
    content), the source-level analogue of d05's per-document Jaccard.

    Plan shape — the ONE data-scale stage is ``groupBy(shingle) +
    bit_or(1 << source_id)``: the source domain is bounded (tens — their
    names are collected once, the same bounded-domain collect the engine
    already uses for CDC bounds and status sets), so each shingle's source
    SET is a single long bitmask, aggregated by a codegen hash aggregate
    with map-side combine (an earlier collect_set-of-strings draft paid
    ObjectHashAggregate object overhead for the same information — 54 s vs
    ~9 s at sf0.1; the first self-join draft was 6x worse still). The
    bitmask table then collapses to at most 2^sources (mask, count) rows —
    a second, tiny shuffle — and every pairwise intersection and per-source
    set size is integer arithmetic over that micro-table, expanded by
    codegen ``when`` terms (sources² of them). No UDFs; the only O(corpus)
    shuffle carries an 8-byte value per distinct shingle.

    Falls back to a sort-free collect_set plan when the source domain
    exceeds 60 (bitmask width).

    Returns (source_a, source_b, n_common, n_a, n_b, jaccard) for every
    unordered pair sharing at least one shingle, jaccard rounded to 6.
    """
    srcs_list = sorted(r[0] for r in df.select(group_col).distinct().collect())
    if len(srcs_list) > 60:
        return _source_overlap_sets(df, text_col, group_col, k)
    src_id = (F.array_position(F.array(*[F.lit(s) for s in srcs_list]),
                               F.col("src")) - 1).cast("int")
    # materialize-then-lambda discipline (see minhash_signatures): the
    # spread() exchange is a projection barrier, so the normalize regexp
    # chain runs once per document — inlined into the shingle lambda it
    # would re-evaluate per ELEMENT (measured 6x slower at sf0.1)
    base = (spread(df.select(F.col(group_col).alias("src"),
                             F.col(text_col)))
            .select("src", normalize(text_col).alias("__norm")))
    masks = (base.select("src",
                         F.explode(F.array_distinct(
                             shingles_of_norm("__norm", k))).alias("s"))
             .select(src_id.alias("__sid"), "s")
             # Python F.shiftleft takes only a literal bit count; the SQL
             # form accepts a column
             .select(F.expr("shiftleft(CAST(1 AS BIGINT), __sid)").alias("bit"),
                     "s")
             .groupBy("s").agg(F.bit_or("bit").alias("m"))
             .groupBy("m").agg(F.count(F.lit(1)).alias("cnt")))

    def has_bit(i: int) -> F.Column:
        return F.col("m").bitwiseAND(F.lit(1 << i)) != 0

    # The (mask, count) micro-table feeds TWO branches (pair intersections
    # and per-source sizes) — checkpoint it so the O(corpus) pipeline above
    # runs once, not once per branch (the d10 lesson: a referenced frame is
    # re-computed, not shared).
    masks = masks.localCheckpoint(eager=False)
    n = len(srcs_list)
    src_arr = F.array(*[F.lit(s) for s in srcs_list])
    # n 'when' terms, then a generic self-join over the ≤2^n-row micro-table
    # — an earlier draft expanded all n²/2 pair terms as one when-struct
    # expression tree, which cost ~3 s of driver-side codegen PER RUN at
    # n=20 (the execution itself is milliseconds either way).
    bit_terms = [F.when(has_bit(i), F.lit(i)) for i in range(n)]
    ex = masks.select(
        "m", "cnt",
        F.explode(F.filter(F.array(*bit_terms),
                           lambda x: x.isNotNull())).alias("sid"))
    sizes = (ex.groupBy("sid").agg(F.sum("cnt").alias("n_sh"))
             .select(F.element_at(src_arr, F.col("sid") + 1).alias("src"),
                     "n_sh"))
    right = ex.select(F.col("m").alias("m2"), F.col("sid").alias("ib"))
    # the exploded mask table is ≤ 2^n·n rows WORST case — tiny for the
    # usual handful of sources, but past ~16 sources the bound (>1M rows)
    # no longer justifies forcing a broadcast; leave the strategy to AQE's
    # actual runtime stats there instead of risking a driver-memory cliff
    if n <= 16:
        right = F.broadcast(right)
    inter = (ex.withColumnRenamed("sid", "ia")
             .join(right,
                   (F.col("m") == F.col("m2")) & (F.col("ia") < F.col("ib")))
             .groupBy("ia", "ib").agg(F.sum("cnt").alias("n_common"))
             .select(F.element_at(src_arr, F.col("ia") + 1).alias("source_a"),
                     F.element_at(src_arr, F.col("ib") + 1).alias("source_b"),
                     "n_common"))
    return _overlap_output(inter, sizes)


def _source_overlap_sets(df: DataFrame, text_col: str,
                         group_col: str, k: int) -> DataFrame:
    """collect_set fallback for source domains too wide for a 64-bit mask:
    same single O(corpus) shuffle, ObjectHashAggregate instead of the
    codegen long bit_or."""
    base = (spread(df.select(F.col(group_col).alias("src"),
                             F.col(text_col)))
            .select("src", normalize(text_col).alias("__norm")))
    sets = (base.select("src",
                        F.explode(F.array_distinct(
                            shingles_of_norm("__norm", k))).alias("s"))
            .groupBy("s").agg(F.sort_array(F.collect_set("src")).alias("srcs")))
    # two consumer branches below — checkpoint so the corpus aggregate
    # runs once (same reuse rule as the bitmask path)
    sets = sets.localCheckpoint(eager=False)

    def pair_structs(srcs):
        def outer(a):
            def inner(b):
                return F.struct(a.alias("sa"), b.alias("sb"))
            return F.transform(srcs, inner)
        return F.filter(F.flatten(F.transform(srcs, outer)),
                        lambda p: p.getField("sa") < p.getField("sb"))

    inter = (sets.select(F.explode(pair_structs(F.col("srcs"))).alias("p"))
             .groupBy(F.col("p.sa").alias("source_a"),
                      F.col("p.sb").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    sizes = (sets.select(F.explode("srcs").alias("src"))
             .groupBy("src").agg(F.count(F.lit(1)).alias("n_sh")))
    return _overlap_output(inter, sizes)


def _overlap_output(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    return (inter
            .join(F.broadcast(sizes.select(F.col("src").alias("source_a"),
                                           F.col("n_sh").alias("n_a"))),
                  "source_a")
            .join(F.broadcast(sizes.select(F.col("src").alias("source_b"),
                                           F.col("n_sh").alias("n_b"))),
                  "source_b")
            .select("source_a", "source_b", "n_common", "n_a", "n_b",
                    F.round(F.col("n_common") /
                            (F.col("n_a") + F.col("n_b")
                             - F.col("n_common")).cast("double"), 6)
                    .alias("jaccard")))


def dedup_token_accounting(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", group_col: str = "source",
                           tokens_col: Column | None = None) -> DataFrame:
    """Effective-token accounting under exact dedup: per group, how many
    documents/tokens survive when each exact-duplicate cluster keeps only
    its minimum-id representative — the number every mixture/quota stage
    (p02/p05) actually needs, since raw token mass double-counts
    duplicated content.

    Plan shape: the (id, group, tokens, hash) projection is checkpointed
    ONCE, keepers are elected with a groupBy min (map-side partial
    aggregation — skew-safe under massively-duplicated content, where a
    window over the hash would pin one unsplittable partition per hot
    hash), and the join back on the hash gets AQE skew splitting. The
    first draft joined WITHOUT the checkpoint and re-computed the whole
    scan-side normalize+md5 pipeline for the keeper branch — a referenced
    frame is re-planned, not shared (12.6 s → 4.4 s on the 20x amplified
    probe after the fix). Then a group-by over the small group domain.
    No collects, no UDFs.

    Returns (group_col, n_docs, n_unique, total_tokens, unique_tokens,
    dup_token_ratio) with the ratio rounded to 6 decimals.
    """
    from projectone_spark.functions.sampling import estimate_tokens

    toks = (tokens_col if tokens_col is not None
            else estimate_tokens(F.length(F.col(text_col))))
    # NULL text hashes to NULL; coalesce to a sentinel so those rows form
    # one cluster and SURVIVE the inner equi-join below (NULL keys never
    # match) — same grouping a window over the raw hash would give
    d = df.select(F.col(id_col), F.col(group_col),
                  toks.alias("__toks"),
                  F.coalesce(content_hash(text_col),
                             F.lit("__null_text__")).alias("__h"))
    d = d.localCheckpoint(eager=False)
    keepers = d.groupBy("__h").agg(F.min(id_col).alias("__keeper"))
    d = d.join(keepers, "__h")
    is_keeper = (F.col(id_col) == F.col("__keeper")).cast("long")
    return (d.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(is_keeper).alias("n_unique"),
                 F.sum("__toks").alias("total_tokens"),
                 F.sum(F.col("__toks") * is_keeper).alias("unique_tokens"))
            .select(group_col, "n_docs", "n_unique", "total_tokens",
                    "unique_tokens",
                    F.round(F.lit(1.0) - F.col("unique_tokens")
                            / F.col("total_tokens").cast("double"), 6)
                    .alias("dup_token_ratio")))


def cross_doc_ngram_dedup(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 8,
                          max_dup_frac: float = 0.5,
                          parallelism: int | None = None) -> DataFrame:
    """Cross-document duplicated-n-gram detection (the word-level analogue
    of ExactSubstr dedup, Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better"): per document, the fraction of its
    DISTINCT word n-grams that also appear in at least one other document,
    with a keep flag at ``dup_frac ≤ max_dup_frac``. Unlike
    ``repetition_stats`` (within-doc), this catches boilerplate shared
    ACROSS documents — mirrors, templated pages, quoted passages.

    Scale shape: per-doc distinct n-grams are computed row-local
    (``array_distinct`` before the explode, so the distinct needs no
    shuffle), then each (doc, gram) row shrinks to (doc, xxhash64(gram))
    BEFORE the one corpus-scale shuffle — 8 bytes per gram instead of the
    ~9-word string. The (doc, hash) frame is checkpointed ONCE and feeds
    both the gram-frequency aggregate and the join back: without the
    checkpoint Spark re-computes the whole scan→normalize→explode subtree
    per consumer (verified by .explain — a referenced frame is re-planned,
    not shared). A WINDOW count over the gram key was tried instead (one
    shuffle, no join) and rejected: a window partition cannot split, so a
    boilerplate gram shared by a large fraction of the corpus pins one
    task, while groupBy gets map-side partial aggregation and the join
    gets AQE skew splitting — the shapes that survive hot keys at 100 TB.
    A 64-bit collision needs ~10^9 distinct grams for even one expected
    false merge; at larger corpora raise to a 128-bit key (concat of two
    seeds) rather than shuffling strings.
    """
    base = (spread(df.select(F.col(id_col), F.col(text_col)), parallelism,
                   by=id_col)
            .select(F.col(id_col), normalize(text_col).alias("__norm")))
    base = base.withColumn("__toks", tokens_of_norm("__norm"))
    gd = (base.select(
            F.col(id_col),
            F.explode(F.array_distinct(ngram_join(F.col("__toks"), n)))
             .alias("__gram"))
          .select(F.col(id_col), F.xxhash64("__gram").alias("__g")))
    gd = gd.localCheckpoint(eager=False)
    counts = gd.groupBy("__g").agg(F.count(F.lit(1)).alias("__nd"))
    return (gd.join(counts, "__g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("__nd") > 1, 1).otherwise(0))
                  .cast("bigint").alias("n_shared"))
            .select(
                F.col(id_col), "n_grams", "n_shared",
                (F.col("n_shared").cast("double")
                 / F.col("n_grams").cast("double")).alias("dup_frac"),
                ((F.col("n_shared").cast("double")
                  / F.col("n_grams").cast("double"))
                 <= max_dup_frac).alias("keep")))


def _duplicate_position_frames(df: DataFrame, text_col: str, id_col: str,
                               n: int, min_run_tokens: int,
                               parallelism: int | None):
    """The shared head of the ExactSubstr-approximation pair
    (:func:`duplicate_run_stats` detects, :func:`duplicate_run_removal`
    applies): the checkpointed per-document (position, gram-hash) frame
    ``gd`` and the checkpointed duplicated-position frame ``dpos``."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_run_tokens < n:
        raise ValueError(
            f"min_run_tokens must be >= n (a single duplicated window "
            f"already spans n={n} tokens), got {min_run_tokens}")
    base = (spread(df.select(F.col(id_col), F.col(text_col)), parallelism,
                   by=id_col)
            .select(F.col(id_col), normalize(text_col).alias("__norm")))
    base = base.withColumn("__toks", tokens_of_norm("__norm"))
    gd = (base.select(F.col(id_col),
                      F.posexplode(ngram_join(F.col("__toks"), n))
                      .alias("__pos", "__gram"))
          .select(F.col(id_col), "__pos", F.xxhash64("__gram").alias("__g"))
          # pin per-document (position, gram) distinctness: an id that
          # appears in several rows (appended unions — the multi-row-id
          # contract p14 established) contributes each occurrence ONCE,
          # and the run window below never sees tied __pos values that
          # would make row_number() (and thus every run statistic)
          # nondeterministic
          .distinct()
          # EAGER since r13: the dup-key aggregate and the run/dup-count
          # consumers materialize in separate jobs; a lazy checkpoint let
          # them race-recompute the gram pipeline (measured 3x CPU)
          .localCheckpoint(eager=True))
    dup_keys = (gd.groupBy("__g").agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") >= 2).select("__g"))
    # checkpointed: both the run window and the per-doc dup count fold
    # this frame, and replaying it would re-run the frequency aggregate
    dpos = (gd.join(dup_keys, "__g", "left_semi")
            .select(F.col(id_col), "__pos")
            # distinct again: ids carrying DIFFERENT texts can still put
            # two grams at one position — collapse so the window is
            # tie-free (and a position is "duplicated", not "duplicated
            # twice")
            .distinct()
            .localCheckpoint(eager=True))
    return gd, dpos


def duplicate_run_stats(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 8,
                        min_run_tokens: int = 50,
                        parallelism: int | None = None) -> DataFrame:
    """Variable-length repeated-substring detection — the distributed
    approximation of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §4.1: remove MAXIMAL
    substrings repeated in the corpus, ≥50 tokens). A faithful parallel
    suffix array is not a Spark shape; the standard approximation is
    CHAINED-GRAM RUN detection: a position's word n-gram is "duplicated"
    when that exact n-gram occurs ≥2 times anywhere in the corpus
    (including elsewhere in the same document — ExactSubstr counts
    self-repeats), and a maximal run of CONSECUTIVE duplicated positions
    ``[i..j]`` witnesses a repeated region of ``j - i + n`` tokens.
    (Approximation in the usual direction: every reported run is a chain
    of individually-repeated windows, not necessarily one contiguous
    match at a single other site — the same relaxation cross-partition
    MapReduce implementations of the recipe make.)

    Scale shape (extends :func:`cross_doc_ngram_dedup`'s d10 machinery
    with positions): positions and grams are derived row-local and each
    (doc, pos, gram) row shrinks to an 8-byte ``xxhash64`` key before
    the one corpus-scale shuffle; the (doc, pos, hash) frame is
    checkpointed ONCE and feeds the gram-frequency aggregate, the
    duplicated-position semi-join, and the per-doc position count. The
    hot-gram skew story is the d10 one: the frequency aggregate gets
    map-side partial combine and the semi-join gets AQE skew splitting —
    and unlike pair-generating dedup there is NO bucket blow-up to cap:
    the semi-join's output is at most its input positions (d13's df-cap
    exists to bound PAIR fan-out; no pairs are ever formed here). Run
    coalescing is one window per DOCUMENT over its duplicated positions
    only — bounded by document length, never corpus-scaled.

    Multi-row ids follow the p14 contract: per-document (position,
    gram) occurrences are counted ONCE across an id's rows, so an
    appended union re-listing the same text changes nothing (and the
    per-document run window stays deterministic — no tied positions).

    Returns per gram-bearing document (docs with < n tokens are absent —
    vacuously clean, the p14 contract): (id, n_positions,
    n_dup_positions, n_runs, max_run_tokens, run_tokens, keep) where
    runs count only those with token span ≥ ``min_run_tokens``,
    ``run_tokens`` sums flagged runs' token spans (spans of DISTINCT
    runs can overlap when gaps are shorter than ``n``, so this is an
    upper bound on distinct flagged tokens), and ``keep`` is
    ``n_runs == 0`` — the Lee et al. drop criterion at document
    granularity.
    """
    from pyspark.sql import Window

    gd, dpos = _duplicate_position_frames(df, text_col, id_col, n,
                                          min_run_tokens, parallelism)
    w = Window.partitionBy(id_col).orderBy("__pos")
    flagged = (dpos.withColumn("__isl",
                               F.col("__pos") - F.row_number().over(w))
               .groupBy(id_col, "__isl")
               .agg((F.count(F.lit(1)) + F.lit(n - 1)).alias("__rtok"))
               .filter(F.col("__rtok") >= min_run_tokens))
    # DISTINCT positions, not (pos, gram) pairs: an id spanning rows
    # with different texts puts two grams at one position, and counting
    # pairs would overstate n_positions (and the n_tokens recovery in
    # duplicate_run_removal) relative to the position-keyed dup counts
    per_doc = gd.groupBy(id_col).agg(
        F.countDistinct("__pos").alias("n_positions"))
    dps = (dpos.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_dup_positions")))
    fl = (flagged.groupBy(id_col)
          .agg(F.count(F.lit(1)).alias("n_runs"),
               F.max("__rtok").alias("max_run_tokens"),
               F.sum("__rtok").alias("run_tokens")))
    z = F.lit(0).cast("bigint")
    return (per_doc.join(dps, id_col, "left").join(fl, id_col, "left")
            .select(F.col(id_col), F.col("n_positions"),
                    F.coalesce("n_dup_positions", z).alias("n_dup_positions"),
                    F.coalesce("n_runs", z).alias("n_runs"),
                    F.coalesce("max_run_tokens", z).alias("max_run_tokens"),
                    F.coalesce("run_tokens", z).alias("run_tokens"),
                    (F.coalesce("n_runs", z) == 0).alias("keep")))


def duplicate_run_removal(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 8,
                          min_run_tokens: int = 50,
                          parallelism: int | None = None) -> DataFrame:
    """The APPLY step of the ExactSubstr recipe — Lee et al. 2022 §4.1
    REMOVES the repeated substrings and keeps the rest of the document
    (dropping whole documents, d14's ``keep`` verdict, "destroys the
    distribution of document lengths"; the paper's recipe cuts only the
    repeated spans). Pairs :func:`duplicate_run_stats` the way t14's
    encode pairs t12's training: same duplicated-position chain, plus
    the exact token-interval union of the flagged runs.

    A flagged run of positions ``[a..b]`` covers tokens
    ``[a, b + n - 1]``; adjacent runs' token spans overlap when the
    position gap between them is smaller than ``n``, so the removed
    count is the size of the UNION of the spans — computed by the
    classic running-max interval merge, one more per-document window
    over the (bounded) flagged-run list. Both windows order by
    positions that are distinct within a document (the
    :func:`_duplicate_position_frames` pin), so every statistic is
    deterministic.

    Returns per gram-bearing document: (id, n_tokens, n_runs,
    tokens_removed, tokens_kept) — ``n_tokens`` is recovered exactly as
    ``n_positions + n - 1``, and ``tokens_kept = n_tokens -
    tokens_removed`` is what survives into the training corpus.
    """
    from pyspark.sql import Window

    gd, dpos = _duplicate_position_frames(df, text_col, id_col, n,
                                          min_run_tokens, parallelism)
    w = Window.partitionBy(id_col).orderBy("__pos")
    runs = (dpos.withColumn("__isl",
                            F.col("__pos") - F.row_number().over(w))
            .groupBy(id_col, "__isl")
            .agg(F.min("__pos").alias("__start"),
                 (F.count(F.lit(1)) + F.lit(n - 1)).alias("__rtok"))
            .filter(F.col("__rtok") >= min_run_tokens)
            .select(F.col(id_col), "__start",
                    (F.col("__start") + F.col("__rtok") - 1).alias("__end")))
    # interval union: island starts are distinct per doc, so ORDER BY
    # __start is a total order and the running max-end merge is exact
    wr = Window.partitionBy(id_col).orderBy("__start")
    prev_end = F.max("__end").over(
        wr.rowsBetween(Window.unboundedPreceding, -1))
    merged = (runs
              .withColumn("__new",
                          F.when(prev_end.isNull()
                                 | (F.col("__start") > prev_end), 1)
                          .otherwise(0))
              .withColumn("__grp", F.sum("__new").over(wr))
              .groupBy(id_col, "__grp")
              .agg((F.max("__end") - F.min("__start") + 1).alias("__cov")))
    rem = merged.groupBy(id_col).agg(
        F.sum("__cov").cast("bigint").alias("tokens_removed"))
    nr = runs.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"))
    # distinct positions (see duplicate_run_stats): exact token recovery
    per_doc = gd.groupBy(id_col).agg(
        (F.countDistinct("__pos") + F.lit(n - 1)).cast("bigint")
        .alias("n_tokens"))
    z = F.lit(0).cast("bigint")
    return (per_doc.join(nr, id_col, "left").join(rem, id_col, "left")
            .select(F.col(id_col), "n_tokens",
                    F.coalesce("n_runs", z).alias("n_runs"),
                    F.coalesce("tokens_removed", z).alias("tokens_removed"),
                    (F.col("n_tokens") - F.coalesce("tokens_removed", z))
                    .alias("tokens_kept")))


def incremental_lsh_pairs(base: DataFrame, delta: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          num_hashes: int = 4, k: int = 5,
                          band_chars: int = 2,
                          parallelism: int | None = None) -> DataFrame:
    """Incremental near-dup candidates when ``delta`` documents join an
    existing corpus: every LSH candidate pair with AT LEAST ONE delta
    side — delta×base and delta×delta, never base×base (those were
    emitted when the base was built). This is the operational dedup shape
    at 100 TB: a daily crawl increment must not re-run the corpus-wide
    self-join, only probe the delta against the standing buckets.

    Scale shape: both signature pipelines are computed once (checkpointed
    union), and the join's LEFT side is only the delta — a band-key
    equi-join the optimizer can broadcast when the delta is small, with
    the full corpus side streamed through it; cost is O(delta × bucket
    width), independent of |base|². Pair identity matches the batch
    ``lsh_candidate_pairs`` exactly: a delta-delta pair is ordered by id
    (found once), a delta-base pair carries least/greatest ids.

    ``band_chars`` stays a FIXED explicit width here (no auto-sizing):
    the standing index was banded once at creation, and probing it with
    a width re-derived from the grown corpus count would route deltas to
    buckets the base rows were never assigned to. Choose the width at
    index creation with :func:`auto_band_chars` of the EXPECTED corpus
    size and pass the same value every increment (and to
    :func:`lsh_recall_audit` when auditing this index).
    """
    def banded(frame: DataFrame) -> DataFrame:
        return (minhash_signatures(frame, text_col, id_col, num_hashes, k,
                                   parallelism)
                .withColumn("band", F.substring(F.col("mh0"), 1, band_chars)))

    return lsh_probe_pairs(banded(base), banded(delta), num_hashes, id_col)


def lsh_probe_pairs(base_sigs: DataFrame, delta_sigs: DataFrame,
                    num_hashes: int = 4,
                    id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs with at least one delta side, from PRECOMPUTED
    banded signature frames (columns: id, mh0..mh{n-1}, band) — the
    persisted-LSH-index probe: the standing corpus keeps only its narrow
    signature table (store it partitioned/stats'd by band and the probe
    prunes to touched buckets), a new batch computes signatures for its
    own rows only and equi-joins the standing bands. Pair identity matches
    the batch ``lsh_candidate_pairs``: a delta-delta pair is ordered once
    by id, a delta-base pair carries least/greatest ids — so a standing
    index folded batch-by-batch accumulates EXACTLY the full corpus pair
    set, independent of how documents were split into batches.
    """
    sigs = (base_sigs.withColumn("__new", F.lit(False))
            .unionByName(delta_sigs.withColumn("__new", F.lit(True)))
            .localCheckpoint(eager=False))
    a = sigs.filter(F.col("__new")).alias("a")
    b = sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        & (~F.col("b.__new")
           | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))))
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    eq_terms = [F.when(F.col(f"a.{c}") == F.col(f"b.{c}"), 1).otherwise(0)
                for c in mh_cols]
    est = (sum(eq_terms[1:], eq_terms[0]).cast("double")
           / F.lit(float(num_hashes)))
    return pairs.select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_id_a"),
        F.greatest(F.col(f"a.{id_col}"),
                   F.col(f"b.{id_col}")).alias("doc_id_b"),
        F.round(est, 4).alias("est_jaccard"))


def lsh_recall_audit(df: DataFrame, sample_n: int = 256,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_hashes: int = 4, k: int = 5,
                     band_chars: int | None = None,
                     tau: tuple[int, int] = (1, 2),
                     scale: int = 1_000_000,
                     salt: str = "d16") -> DataFrame:
    """Precision/recall audit of MinHash-LSH candidate generation against
    EXACT shingle Jaccard — the calibration every dedup deployment runs
    before committing to a (hashes, bands) configuration (Leskovec et
    al., MMDS ch.3 tune the S-curve this way), computed inside the
    engine on a deterministic sample so an index configuration ships
    with its measured candidate quality, the dedup twin of
    :func:`~projectone_spark.functions.embeddings.knn_recall`.

    Ground truth needs all-pairs exact Jaccard, which is quadratic — so
    the audit is SAMPLE-BOUNDED by contract: the ``sample_n`` documents
    with the smallest ``md5(salt:id)`` (an order-stable uniform draw, no
    RNG state; one TakeOrdered over the corpus is the only full scan).
    Everything after — shingle explode, intersection counts via the
    shingle equi-join, minhash banding — runs on the bounded sample, so
    the audit costs O(sample²) worst case REGARDLESS of corpus size.

    Exactness: intersections are exact integer counts from the
    equi-join of per-document DISTINCT shingles; union = |A| + |B| − ∩;
    a pair is a true duplicate when ``∩ · tau_den ≥ ∪ · tau_num``
    (integer compare, no division — default τ = 1/2); LSH candidates
    use the d03 recipe (seeded-md5 minhashes, ``band_chars`` prefix of
    mh0) with the equal-signature fraction as ``est_micro``. One row
    per pair in (candidates ∪ true duplicates): false negatives appear
    as (is_true, NOT is_candidate), false positives the reverse.

    ``band_chars=None`` (default) auto-sizes via :func:`auto_band_chars`
    from the FULL corpus count (not the sample's), so the default audit
    measures exactly the banding :func:`lsh_candidate_pairs` would ship
    for this corpus at this size. Auditing a fixed external
    configuration (e.g. the standing band table behind
    :func:`incremental_lsh_pairs`) requires passing that index's
    ``band_chars`` explicitly.

    Returns (doc_id_a, doc_id_b, n_inter, n_union, jaccard_micro,
    est_micro, is_true, is_candidate); ``est_micro`` is NULL for pairs
    LSH never surfaced.
    """
    tn, td = tau
    if sample_n <= 1:
        raise ValueError(f"sample_n must be > 1, got {sample_n}")
    if not (0 < tn <= td):
        raise ValueError(f"tau must be a rational in (0, 1], got {tau}")
    if num_hashes <= 0:  # before the eager sample job, not after
        raise ValueError(f"num_hashes must be positive, got {num_hashes}")
    if band_chars is None:
        # full-corpus sizing BY DESIGN: the audit must measure the
        # banding the deployed index would use, and the index is built
        # over the corpus, not over this audit's sample
        band_chars = auto_band_chars(df.count())
    draw = F.md5(F.concat(F.lit(f"{salt}:"),
                          F.col(id_col).cast("string")).cast("binary"))
    # sample FIRST (TakeOrdered over (id, text) — the only corpus-wide
    # work is the md5 draw), THEN shingle: the normalize/k-gram/distinct
    # chain runs on sample_n rows, not the corpus
    smp = (df.select(F.col(id_col), F.col(text_col))
           .orderBy(draw, F.col(id_col))
           .limit(sample_n)
           .select(F.col(id_col),
                   F.array_distinct(
                       shingles_of_norm(normalize(text_col), k))
                   .alias("__sh"))
           .localCheckpoint(eager=True))  # bounded; three consumers below
    sigs = smp.select(
        id_col,
        *[c.alias(f"__mh{i}")
          for i, c in enumerate(minhash_sig_cols("__sh", num_hashes))])
    eq = sum(F.when(F.col(f"a.__mh{i}") == F.col(f"b.__mh{i}"), 1)
             .otherwise(0) for i in range(num_hashes)).cast("bigint")
    cand = (sigs.alias("a").join(
                sigs.alias("b"),
                (F.substring(F.col("a.__mh0"), 1, band_chars)
                 == F.substring(F.col("b.__mh0"), 1, band_chars))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_id_a"),
                    F.col(f"b.{id_col}").alias("doc_id_b"),
                    eq.alias("__eq")))
    sh = smp.select(F.col(id_col), F.explode("__sh").alias("__s"))
    inter = (sh.alias("a").join(
                 sh.alias("b"),
                 (F.col("a.__s") == F.col("b.__s"))
                 & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("doc_id_a"),
                      F.col(f"b.{id_col}").alias("doc_id_b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("__it")))
    sizes = smp.select(F.col(id_col), F.size("__sh").cast("bigint").alias("__n"))
    return (cand.join(inter, ["doc_id_a", "doc_id_b"], "full")
            .withColumn("n_inter", F.coalesce(F.col("__it"),
                                              F.lit(0).cast("bigint")))
            .join(sizes.withColumnRenamed(id_col, "doc_id_a")
                  .withColumnRenamed("__n", "__na"), "doc_id_a")
            .join(sizes.withColumnRenamed(id_col, "doc_id_b")
                  .withColumnRenamed("__n", "__nb"), "doc_id_b")
            .withColumn("n_union",
                        F.col("__na") + F.col("__nb") - F.col("n_inter"))
            .withColumn("is_true",
                        F.col("n_inter") * td >= F.col("n_union") * tn)
            .withColumn("is_candidate", F.col("__eq").isNotNull())
            .filter(F.col("is_true") | F.col("is_candidate"))
            .withColumn("jaccard_micro",
                        F.expr(f"(CAST({int(scale)} AS BIGINT) * n_inter)"
                               " div n_union"))
            .withColumn("est_micro",
                        F.expr(f"(CAST({int(scale)} AS BIGINT) * __eq)"
                               f" div {int(num_hashes)}"))
            .select("doc_id_a", "doc_id_b", "n_inter", "n_union",
                    "jaccard_micro", "est_micro", "is_true",
                    "is_candidate"))
