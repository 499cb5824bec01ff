"""Dataset-assembly operators for training-data pipelines: deterministic
splits, language-balanced quota sampling, sequence packing, benchmark
contamination detection.

These are the steps between "corpus" and "training set": assign every
document to train/val/test reproducibly, cap each language/source at a
quota, pack variable-length documents into fixed token budgets, and check
the training split for benchmark leakage.

Design for 100 TB:
- the split is a pure scan-side expression (md5 bucket) — no shuffle, no
  state, and stable under re-runs, re-partitioning, and appends (a given
  id always lands in the same split, so yesterday's train doc never leaks
  into tomorrow's test set);
- quota sampling is TWO-PHASE top-k: a local top-k inside each (group,
  input-partition) slice first, so the global per-group window only ranks
  ``k × num_partitions`` survivors instead of every row of a hot language
  (a one-phase window puts all of `en` — possibly 40% of the corpus — in
  a single task);
- packing is windowed prefix-sum per (group, shard): packing is inherently
  sequential, so parallelism comes from sharding the id space, not from
  splitting one sequence;
- contamination joins the corpus against a *broadcast* set of benchmark
  shingles — the corpus never shuffles, only its exploded shingles
  aggregate back by doc_id.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window

from projectone_spark.functions.dedup import shingles_of_norm
from projectone_spark.functions.text import (
    ngram_join,
    normalize,
    spread,
    tokens,
    tokens_of_norm,
)


def md5_bucket(col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic [0, n_buckets) bucket from the first 4 hex digits of
    md5(value) — engine-portable (any md5 produces the same bucket, cf.
    DuckDB ``CAST('0x'||substr(md5(v),1,4) AS INT)``), unlike
    ``hash()``/``xxhash64`` whose seeds differ per engine."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10)
            .cast("int") % n_buckets)


def md5_u32(col: Column | str) -> Column:
    """Deterministic uniform 32-bit integer in [0, 2^32) from the first
    8 hex digits of md5(value) — the engine-portable uniform shared by
    :func:`mixture_rebalance` and :func:`epoch_schedule` (DuckDB mirror:
    ``CAST('0x'||substr(md5(v),1,8) AS BIGINT)``). One definition so the
    Spark recipe can never drift from the oracle fragments."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
            .cast("bigint"))


def deterministic_split(df: DataFrame, id_col: str = "doc_id",
                        splits: Sequence[tuple[str, int]] = (
                            ("train", 80), ("val", 10), ("test", 10)),
                        out_col: str = "split") -> DataFrame:
    """Assign every row to a named split by hashing its id: stable across
    runs/partitionings/appends, no shuffle, no sampling state. ``splits``
    is (name, percent) with percents summing to 100."""
    total = sum(p for _, p in splits)
    if total != 100:
        raise ValueError(f"split percents must sum to 100, got {total}")
    b = md5_bucket(id_col, 100)
    expr = None
    upper = 0
    for name, pct in splits[:-1]:
        upper += pct
        clause = F.when(b < upper, F.lit(name))
        expr = clause if expr is None else expr.when(b < upper, F.lit(name))
    expr = (expr.otherwise(F.lit(splits[-1][0])) if expr is not None
            else F.lit(splits[-1][0]))
    return df.withColumn(out_col, expr)


def quality_weighted_sample(scored: DataFrame,
                            score_col: str = "score_micro",
                            id_col: str = "doc_id",
                            scale: int = 1_000_000,
                            salt: str = "qws",
                            out_col: str = "kept") -> DataFrame:
    """Score-proportional deterministic sampling — the SOFT quality
    filter production curation runs instead of a hard threshold (CCNet
    keeps documents by perplexity bucket with bucket-level acceptance
    rates; DataComp/FineWeb sample by classifier score so mid-quality
    text is down-weighted, not eliminated): a document is kept with
    probability EXACTLY ``score/scale``, decided by comparing the
    engine-portable :func:`md5_u32` uniform of ``salt:id`` against the
    score — ``u32 · scale < score · 2^32``, all exact BIGINT arithmetic
    (max operand ~4.3e15, no overflow, no float, no RNG state), so the
    decision is stable across runs/partitionings/appends and an
    external oracle reproduces every verdict. Scores ≤ 0 are never
    kept; scores ≥ ``scale`` always are — the clamp falls out of the
    integer compare for free.

    Scan-side only: adds ``out_col`` (boolean) to the frame, no
    shuffle, no collect — compose with a filter for the survivor
    corpus or aggregate for acceptance accounting.
    """
    if int(scale) < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    u = md5_u32(F.concat_ws(":", F.lit(salt),
                            F.col(id_col).cast("string")))
    return scored.withColumn(
        out_col, u * int(scale) < F.col(score_col) * F.lit(4294967296))


def quota_sample(df: DataFrame, group_col: str, order_col: str,
                 quota: int, tie_col: str, ascending: bool = False,
                 rank_col: str = "rk") -> DataFrame:
    """Top-``quota`` rows per group, ordered by ``order_col`` (desc by
    default) with ``tie_col`` as the deterministic tie-break.

    Two-phase: rank inside (group, spark_partition_id) first and keep the
    local top-k, then rank the ≤ k·P survivors globally per group. The
    result is identical to a one-phase per-group window (any global top-k
    row is top-k within its own partition), but no single task ever sees
    more than one input-partition's worth of a hot group.
    """
    oc = F.col(order_col) if ascending else F.col(order_col).desc()
    tc = F.col(tie_col)
    local = Window.partitionBy(group_col, F.spark_partition_id()).orderBy(oc, tc)
    survivors = (df.withColumn("__lrk", F.row_number().over(local))
                 .filter(F.col("__lrk") <= quota).drop("__lrk"))
    w = Window.partitionBy(group_col).orderBy(oc, tc)
    return (survivors.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= quota))


def estimate_tokens(col: Column | str, chars_per_token: float = 4.0) -> Column:
    """Cheap LLM token-budget estimate from character count (≈4 chars per
    token for English); swap in a real tokenizer count upstream when one
    is available."""
    c = F.col(col) if isinstance(col, str) else col
    return F.ceil(c.cast("double") / F.lit(chars_per_token)).cast("long")


def pack_sequences(df: DataFrame, token_col: str, target_tokens: int,
                   part_cols: Sequence[str], order_col: str,
                   bin_col: str = "bin") -> DataFrame:
    """Assign each row to a sequence-packing bin by prefix-sum position:
    row i goes to bin ``floor(prefix_tokens_before_i / target)``, streaming
    in ``order_col`` order within each ``part_cols`` partition. Every bin
    holds < target + its-largest-doc tokens; a bin can UNDER-fill when its
    predecessor overshot into its span (the price of expressing packing as
    one window instead of a sequential recurrence — at scale that trade is
    right, and token waste is bounded by one doc per bin). (part_cols…,
    bin) is the global bin key; shard the id space via ``part_cols`` for
    parallelism."""
    w = (Window.partitionBy(*part_cols).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(token_col).over(w)
    return df.withColumn(
        bin_col,
        F.floor((cum - F.col(token_col)) / F.lit(float(target_tokens)))
        .cast("long"))


def contamination_report(corpus: DataFrame, benchmark: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 5, parallelism: int | None = None) -> DataFrame:
    """Per-corpus-document overlap with a benchmark set: the fraction of
    the document's distinct char-``k``-gram shingles that appear anywhere
    in the benchmark. 1.0 ⇒ fully contained in the benchmark (leaked).

    The benchmark's distinct shingle set is broadcast (eval suites are
    tiny next to a training corpus), so the corpus side never shuffles
    for the join — only its exploded shingles aggregate back by id.
    """

    def exploded(frame: DataFrame) -> DataFrame:
        # materialize __norm before the shingle lambda (text.py rule 1:
        # HOF lambdas re-evaluate embedded chains per element) and spread
        # the CPU-heavy explode across cores (rule 2)
        # spread raw rows by the unique id; normalize AFTER the exchange
        # (r13 — below it the regex chain ran in the serial map task)
        base = (spread(frame.select(F.col(id_col), F.col(text_col)),
                       parallelism, by=id_col)
                .select(F.col(id_col), normalize(text_col).alias("__norm")))
        sh = F.array_distinct(shingles_of_norm("__norm", k))
        return base.select(F.col(id_col), F.explode(sh).alias("__sh"))

    bench_sh = benchmark.transform(exploded).select("__sh").distinct()
    marked = (corpus.transform(exploded)
              .join(F.broadcast(bench_sh.withColumn("__hit", F.lit(1))),
                    "__sh", "left"))
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap"))
            .withColumn("contamination",
                        # raw IEEE division of two bigints is bit-identical
                        # across engines; round() tie-breaks are not
                        F.col("n_overlap") / F.col("n_shingles")))


def bloom_positions(sh_col: Column | str, m_bits: int = 65536,
                    n_hashes: int = 2) -> list[Column]:
    """The ``n_hashes`` bloom-filter bit positions of a shingle in an
    ``m_bits``-bit space, by Kirsch-Mitzenmacher double hashing over two
    independent 32-bit halves of md5: ``pos_i = (h1 + i*h2) mod m``.
    md5-derived (not ``xxhash64``) so any engine reproduces the exact
    positions — cf. DuckDB ``CAST('0x'||substr(md5(s),1,8) AS BIGINT)``.
    """
    c = F.col(sh_col) if isinstance(sh_col, str) else sh_col
    h1 = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")
    return [(h1 + F.lit(i) * h2) % m_bits for i in range(n_hashes)]


def bloom_contamination(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        group_col: str = "source", k: int = 5,
                        m_bits: int = 65536, n_hashes: int = 2,
                        parallelism: int | None = None) -> DataFrame:
    """Benchmark-decontamination screen through a bloom filter — the
    membership structure large-corpus pipelines (Dolma, DataComp) use when
    the eval-suite shingle set is too big to broadcast verbatim: the
    benchmark compresses to ``m_bits`` bits (``m/64`` longs — 8 KiB at the
    default) no matter how many shingles it holds, and the corpus probe is
    pure scan-side codegen against that constant-size bitset.

    Build: benchmark shingles → ``n_hashes`` md5 double-hash positions →
    word/mask pack → ``bit_or`` per 64-bit word → bounded driver collect
    (≤ ``m/64`` rows) → literal long array. Probe: a shingle is flagged
    iff ALL its positions' bits are set — no join, no shuffle, no state on
    the corpus side. Blooms have no false negatives by construction, so
    the exact broadcast-join verdict (``contamination_report``'s join) is
    a subset of the flagged set; the caller can measure the false-positive
    rate from the two counts (e.g. q p09 asserts subset-ness in-query).

    Returns per ``group_col``: n_docs, n_docs_exact (≥1 exact benchmark
    shingle), n_docs_bloom (≥1 flagged shingle), n_shingles_exact,
    n_shingles_bloom — all exact integers. :func:`bloom_doc_flags` is the
    per-document form (the screen a curation pipeline filters on).
    """
    per_doc = bloom_doc_flags(corpus, benchmark, text_col, id_col,
                              group_col, k, m_bits, n_hashes, parallelism)
    return (per_doc.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("__n_ex") > 0, 1).otherwise(0))
                 .cast("bigint").alias("n_docs_exact"),
                 F.sum(F.when(F.col("__n_bl") > 0, 1).otherwise(0))
                 .cast("bigint").alias("n_docs_bloom"),
                 F.sum("__n_ex").cast("bigint").alias("n_shingles_exact"),
                 F.sum("__n_bl").cast("bigint").alias("n_shingles_bloom"),
                 F.sum("__n_fneg").cast("bigint")
                 .alias("n_false_negatives")))


def bloom_m_bits(n_keys: int, bits_per_key: int = 16) -> int:
    """FPR-controlled bloom sizing: the bitset width a screen that
    FILTERS on the bloom verdict must train with (a fixed default like
    the 8 KiB one is fine for screens that merely REPORT counts — the
    saturation is visible in the output — but a curation gate that
    drops documents needs the false-positive rate pinned regardless of
    benchmark size). 16 bits/key with the module's 2 hashes gives
    fill ≈ 1 - e^(-1/8) ≈ 11.8% and FPR ≈ 1.4% at any scale; rounded
    up to a multiple of 64 for the word/mask pack."""
    if bits_per_key < 1:
        raise ValueError(f"bits_per_key must be >= 1, got {bits_per_key}")
    if n_keys < 0:
        raise ValueError(f"n_keys must be >= 0, got {n_keys}")
    return max(64, 64 * ((bits_per_key * n_keys + 63) // 64))


def bloom_bitset(benchmark: DataFrame, text_col: str = "text",
                 k: int = 5, m_bits: int = 65536, n_hashes: int = 2,
                 parallelism: int | None = None,
                 shingles: DataFrame | None = None) -> list[int]:
    """Pack the benchmark's shingle positions into the ``m_bits/64``-long
    bloom bitset (one bounded aggregation + a ≤1024-row driver collect).
    Built once and passed to :func:`bloom_doc_flags` as ``bitset``, this
    is the trained state a streaming screen broadcasts into every
    micro-batch — constant 8 KiB at the default regardless of benchmark
    size. Pass ``shingles`` (a checkpointed
    :func:`bloom_exact_shingles` frame) to fold the bitset off the
    already-derived shingle set instead of re-exploding the benchmark."""
    if m_bits < 64 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, "
                         f"got {m_bits}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    if shingles is not None:
        if shingles.columns != ["__sh"]:
            raise ValueError("shingles must be a one-column '__sh' frame, "
                             f"got {shingles.columns}")
        sh = shingles
    else:
        sh = bloom_exact_shingles(benchmark, text_col, k, parallelism)
    pos = sh.select(F.explode(F.array(
        *bloom_positions("__sh", m_bits, n_hashes))).alias("__p"))
    rows = (pos.select((F.col("__p") / 64).cast("int").alias("__w"),
                       F.expr("shiftleft(CAST(1 AS BIGINT), "
                              "CAST(__p % 64 AS INT))").alias("__m"))
            .groupBy("__w").agg(F.bit_or("__m").alias("__bits"))
            .collect())  # bounded: ≤ m_bits/64 rows regardless of data
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["__w"]] = r["__bits"]
    return words


def token_ngram_contamination(corpus: DataFrame, benchmark: DataFrame,
                              n: int = 13, text_col: str = "text",
                              id_col: str = "doc_id",
                              group_col: str = "source",
                              parallelism: int | None = None) -> DataFrame:
    """Word-n-gram benchmark decontamination — the GPT-3 recipe (Brown
    et al. 2020, Appendix C): a training document is DIRTY when it shares
    any 13-gram of words with the eval suite. This is the token-level
    twin of the char-5-shingle screens (p09 bloom / d12 exact): shingles
    catch fuzzy/reformatted leakage, exact long n-grams catch verbatim
    quotation with near-zero false-positive rate — production pipelines
    (GPT-3, PaLM, Llama) run this granularity.

    Grams are space-joined normalized tokens, DISTINCT per DOCUMENT —
    ``array_distinct`` dedupes row-local before the explode (the d10
    discipline) and a (doc, digest) distinct pins the contract even if a
    caller's frame carries multiple rows per id (e.g. an appended
    union). CONTRACT: an id must not span multiple ``group_col`` values —
    distinctness and grouping key on (id, group), so an id appearing
    under two sources is treated as two documents (one output row per
    (id, source), shared grams counted in each); dedupe or re-key before
    calling if that is not the intent. Digests are md5 hex so the benchmark-side join ships
    32-byte keys instead of ~100-char gram strings; md5 over identical
    UTF-8 bytes is engine-portable, so an external oracle reproduces
    the keys exactly.

    Plan shape at 100 TB: the benchmark's distinct gram-digest set is
    tiny by construction (eval suites, not corpora) and broadcasts; the
    corpus side is ONE scan → row-local gram derivation → a map-side-
    combining per-doc aggregate over the broadcast LEFT join — the only
    corpus-sized shuffle carries (doc, digest) pairs. Documents with
    fewer than ``n`` tokens have no grams and are absent (vacuously
    clean — the GPT-3 filter only ever flags gram-bearing text).

    Returns per corpus document: (id, group, n_grams, n_dirty, dirty).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def grams(frame: DataFrame, cols: list[str]) -> DataFrame:
        # normalize after the exchange (r13; hash-spread when the unique
        # id is among the carried columns, round-robin otherwise)
        base = (spread(frame.select(*cols, F.col(text_col)), parallelism,
                       by=id_col if cols else None)
                .select(*cols, normalize(text_col).alias("__norm")))
        toks = tokens_of_norm("__norm")
        return base.select(
            *cols,
            F.explode(F.array_distinct(ngram_join(toks, n))).alias("__g"))

    bench_g = (grams(benchmark, [])
               .select(F.md5(F.col("__g").cast("binary")).alias("__h"))
               .distinct()
               .withColumn("__hit", F.lit(True)))
    return (grams(corpus, [id_col, group_col])
            .select(id_col, group_col,
                    F.md5(F.col("__g").cast("binary")).alias("__h"))
            .distinct()  # per-DOCUMENT distinctness survives multi-row ids
            .join(F.broadcast(bench_g), "__h", "left")
            .groupBy(id_col, group_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("__hit"), 1).otherwise(0))
                 .cast("bigint").alias("n_dirty"))
            .withColumn("dirty", F.col("n_dirty") > 0))


def bloom_exact_shingles(benchmark: DataFrame, text_col: str = "text",
                         k: int = 5,
                         parallelism: int | None = None) -> DataFrame:
    """The benchmark's DISTINCT shingle set as a one-column ``__sh``
    frame — the exact-verdict side of the bloom screen, precomputable
    (and checkpointable) once so a streaming caller's micro-batches skip
    re-deriving it (pass to :func:`bloom_doc_flags` as
    ``bench_shingles``)."""
    base = spread(benchmark.select(normalize(text_col).alias("__norm")),
                  parallelism)
    return (base.select(F.explode(
                F.array_distinct(shingles_of_norm("__norm", k)))
                .alias("__sh"))
            .distinct())


def bloom_doc_flags(corpus: DataFrame, benchmark: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    group_col: str = "source", k: int = 5,
                    m_bits: int = 65536, n_hashes: int = 2,
                    parallelism: int | None = None,
                    bitset: list[int] | None = None,
                    bench_shingles: DataFrame | None = None) -> DataFrame:
    """Per-document bloom/exact contamination counters — the frame
    :func:`bloom_contamination` aggregates, exposed for pipelines that
    FILTER on the screen (e.g. drop documents whose flagged-shingle
    share clears a threshold — ``2*__n_bl > __n_sh`` for majority
    containment, an exact integer compare).

    ``bitset`` (from :func:`bloom_bitset`) skips the build step and
    probes the given words instead — the train-once/probe-many shape a
    STREAMING screen needs, where the benchmark bitset is fixed state
    and every micro-batch only pays the probe. ``benchmark`` is still
    read for the exact-verdict join (tiny by construction);
    ``bench_shingles`` (a one-column ``__sh`` frame of the benchmark's
    DISTINCT shingles, e.g. a checkpointed
    ``bloom_exact_shingles(benchmark)``) skips re-deriving even that per
    call — with both, a micro-batch pays ONLY its own probe.
    Returns (id_col, group_col, __n_sh, __n_ex, __n_bl, __n_fneg).
    """
    # a position in a partial trailing word would F.get a null word and
    # null-propagate into a silent NOT-flagged verdict (a false negative,
    # exactly what a bloom must never produce) — reject loudly instead
    if m_bits < 64 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, "
                         f"got {m_bits}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")

    def exploded(frame: DataFrame) -> DataFrame:
        cols = [F.col(id_col)] + ([F.col(group_col)]
                                  if group_col in frame.columns else [])
        # normalize deliberately BELOW the exchange here (unlike the r13
        # spread sites): the streaming screen calls this per MICRO-BATCH
        # on bounded frames where the exchange's materialized __norm is
        # the cheaper shape — the A/B measured the above-exchange form
        # +2.3 s on st14 with no p09 win
        base = spread(frame.select(*cols, normalize(text_col).alias("__norm")),
                      parallelism)
        sh = F.array_distinct(shingles_of_norm("__norm", k))
        return base.select(*cols, F.explode(sh).alias("__sh"))

    # the benchmark slice is tiny next to the corpus, so recomputing its
    # shingles for the exact-verdict join costs less than an extra
    # materialization job would — in a BATCH call; a streaming caller
    # probing many micro-batches passes the precomputed set instead
    if bench_shingles is not None:
        if bench_shingles.columns != ["__sh"]:
            raise ValueError("bench_shingles must be a one-column '__sh' "
                             f"frame, got {bench_shingles.columns}")
        bench_sh = bench_shingles
    else:
        bench_sh = benchmark.transform(exploded).select("__sh").distinct()

    if bitset is None:
        bitset = bloom_bitset(benchmark, text_col, k, m_bits,
                              n_hashes, parallelism)
    elif len(bitset) != m_bits // 64:
        raise ValueError(f"bitset has {len(bitset)} words; m_bits="
                         f"{m_bits} needs {m_bits // 64}")
    # one array Literal, not CreateArray(1024 exprs): the codegen for the
    # latter materializes every element as its own expression per probe
    lit_words = F.lit(bitset).cast("array<bigint>")

    def with_bloom(frame: DataFrame) -> DataFrame:
        pcols = [p.alias(f"__p{i}") for i, p in
                 enumerate(bloom_positions("__sh", m_bits, n_hashes))]
        out = frame.select("*", *pcols)
        hit = F.lit(True)
        for i in range(n_hashes):
            word = F.get(lit_words, (F.col(f"__p{i}") / 64).cast("int"))
            mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                          f"CAST(__p{i} % 64 AS INT))")
            hit = hit & (word.bitwiseAND(mask) != 0)
        return (out.withColumn("__bloom", hit)
                .drop(*[f"__p{i}" for i in range(n_hashes)]))

    marked = (corpus.transform(exploded)
              .transform(with_bloom)
              .join(F.broadcast(bench_sh.withColumn("__exact", F.lit(True))),
                    "__sh", "left")
              .withColumn("__exact", F.coalesce("__exact", F.lit(False))))
    return (marked.groupBy(id_col, group_col)
            .agg(F.count(F.lit(1)).alias("__n_sh"),
                 F.sum(F.when(F.col("__exact"), 1).otherwise(0))
                 .alias("__n_ex"),
                 F.sum(F.when(F.col("__bloom"), 1).otherwise(0))
                 .alias("__n_bl"),
                 F.sum(F.when(F.col("__exact") & ~F.col("__bloom"), 1)
                       .otherwise(0)).alias("__n_fneg")))


def temperature_quota_sample(df: DataFrame, group_col: str,
                             weight_col: str, *, alpha: float = 0.5,
                             scale: float = 8.0, min_quota: int = 4,
                             id_col: str = "doc_id") -> DataFrame:
    """Temperature-scaled mixture sampling: each group's quota grows
    sublinearly with its mass (``floor(mass^alpha / scale)``, floored at
    ``min_quota``), flattening the source distribution the way
    LLM-pretraining mixtures down-weight dominant domains; rows inside a
    group are picked in deterministic md5 order (seedless, reproducible
    anywhere).

    The quota is a pure function of the group's own EXACT integer mass —
    deliberately not normalized by the cross-group total, whose
    floating-point summation order differs between engines (a production
    variant normalizing to a token budget would use fixed-point decimal
    sums). Two-phase execution like ``quota_sample``: mass aggregate →
    broadcast quotas → per-group rank.
    """
    mass = (df.groupBy(group_col)
            .agg(F.sum(weight_col).alias("__mass")))
    quota = mass.select(
        group_col,
        F.greatest(F.lit(min_quota),
                   F.floor(F.pow(F.col("__mass").cast("double"),
                                 F.lit(alpha)) / F.lit(scale))
                   .cast("int")).alias("quota"))
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (df.join(F.broadcast(quota), group_col)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= F.col("quota"))
            .drop("__rk"))


def mixture_rebalance(df: DataFrame, group_col: str = "source",
                      token_col: str = "toks", id_col: str = "doc_id",
                      max_upsample: float = 4.0) -> DataFrame:
    """Rebalance a source mixture toward equal token share per group, with
    a cap on upsampling: group weight ``w = min(max_upsample,
    target_tokens / group_tokens)`` where ``target = total / n_groups``,
    then each document is replicated ``floor(w)`` times plus one more when
    its deterministic md5 uniform (first 8 hex digits / 2^32) falls below
    ``frac(w)`` — stochastic rounding without an RNG, stable under re-runs
    and repartitioning, reproducible in any engine with md5. Dominant
    sources downsample (w < 1), scarce ones upsample up to the cap —
    the standard mixture-flattening step before pretraining (cf. the
    sampling ratios in Gopher/The Pile dataset cards).

    Determinism across engines: token masses aggregate as exact integers
    (never float sums, whose order differs per engine), and ``w`` derives
    from int/int double division — bit-identical everywhere. Scale shape:
    one integer aggregate, a broadcast of ~n_groups weight rows back onto
    the corpus, and one final group aggregate; the per-doc copy count is a
    scan-side expression, so nothing corpus-sized shuffles except the
    bounded per-group summary.

    Returns one row per group: docs/tokens in, expected copies/tokens out,
    and the applied weight.
    """
    toks = F.col(token_col).cast("bigint")
    d = df.select(F.col(id_col), F.col(group_col), toks.alias("__t"))
    mass = d.groupBy(group_col).agg(F.sum("__t").alias("__gt"),
                                    F.count(F.lit(1)).alias("__gn"))
    scalar = mass.agg(F.sum("__gt").alias("__total"),
                      F.count(F.lit(1)).alias("__ngroups"))
    weights = (mass.crossJoin(F.broadcast(scalar))
               .select(group_col, "__gt", "__gn",
                       F.least(
                           F.lit(float(max_upsample)),
                           (F.col("__total").cast("double")
                            / F.col("__ngroups").cast("double"))
                           / F.col("__gt").cast("double")).alias("__w")))
    u = md5_u32(id_col).cast("double") / F.lit(4294967296.0)
    copies = (F.floor("__w").cast("bigint")
              + F.when(u < F.col("__w") - F.floor("__w"), 1).otherwise(0))
    return (d.join(F.broadcast(weights), group_col)
            .withColumn("__c", copies)
            .groupBy(group_col)
            .agg(F.first("__gn").alias("n_docs"),
                 F.first("__gt").alias("tokens_in"),
                 F.first("__w").alias("weight"),
                 F.sum("__c").alias("n_copies"),
                 F.sum(F.col("__c") * F.col("__t")).alias("tokens_out")))


def epoch_schedule(df: DataFrame, group_col: str = "source",
                   token_col: str = "n_chars", id_col: str = "doc_id",
                   budget_epochs: int = 2, max_epochs_micro: int = 4_000_000,
                   chars_per_token: int = 4) -> DataFrame:
    """Data-constrained repetition schedule (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): given a total token
    budget of ``budget_epochs ×`` the corpus, split it equally across
    sources and REPEAT each source up to the cap — the regime where the
    corpus is smaller than the compute budget wants, so scarce sources
    run multiple epochs (the paper's ~4-epoch ceiling is the default
    cap) while a source bigger than its share downsamples below one.

    All mass arithmetic is exact integer (micro-epochs), the same
    discipline as :func:`mixture_rebalance` but with the budget/cap
    dimension that distinguishes scheduling from rebalancing::

        target = (total_tokens * budget_epochs) div n_sources
        e_s    = min(cap, (1_000_000 * target) div tokens_s)   -- micro

    Per-document copies are ``e_s div 1e6`` plus one more when the
    document's md5 uniform (first 8 hex digits, an exact 32-bit integer)
    falls below ``frac(e_s)`` rescaled to 2^32 — stochastic rounding with
    no RNG, the integer-compare twin of ``mixture_rebalance``'s float
    version, reproducible in any engine with md5.

    Int64 envelope: ``1e6 * target`` binds — fine to ~9.2e12 tokens per
    source-share (≈ trillions of tokens); past that drop the micro scale
    (Spark's non-ANSI bigint wraps where DuckDB promotes to HUGEINT, so
    overflow is a cross-engine divergence, not a silent wrong answer).

    Scale shape: one map-side-combining integer aggregate per source, a
    two-row-level scalar fold, a broadcast of ~n_sources schedule rows
    back onto the corpus, a scan-side copy expression, and the bounded
    per-source summary aggregate — the corpus itself never shuffles.

    Returns one row per source: (group, n_docs, tokens_in, epochs_micro,
    n_copies, tokens_out).
    """
    t = F.greatest(F.lit(1).cast("bigint"),
                   F.expr(f"CAST({token_col} AS BIGINT)"
                          f" div {int(chars_per_token)}"))
    d = df.select(F.col(id_col), F.col(group_col), t.alias("__t"))
    mass = d.groupBy(group_col).agg(F.sum("__t").alias("__gt"),
                                    F.count(F.lit(1)).alias("__gn"))
    scalar = mass.agg(F.sum("__gt").alias("__total"),
                      F.count(F.lit(1)).alias("__ns"))
    sched = (mass.crossJoin(F.broadcast(scalar))
             .withColumn("__em", F.least(
                 F.lit(int(max_epochs_micro)).cast("bigint"),
                 F.expr(f"(CAST(1000000 AS BIGINT)"
                        f" * ((__total * {int(budget_epochs)}) div __ns))"
                        " div __gt")))
             .select(group_col, "__gt", "__gn", "__em"))
    u32 = md5_u32(id_col)
    thr = F.expr("((__em % 1000000) * 4294967296) div 1000000")
    copies = (F.expr("__em div 1000000")
              + F.when(u32 < thr, F.lit(1)).otherwise(F.lit(0))).cast("bigint")
    return (d.join(F.broadcast(sched), group_col)
            .withColumn("__c", copies)
            .groupBy(group_col)
            .agg(F.first("__gn").alias("n_docs"),
                 F.first("__gt").alias("tokens_in"),
                 F.first("__em").alias("epochs_micro"),
                 F.sum("__c").alias("n_copies"),
                 F.sum(F.col("__c") * F.col("__t")).alias("tokens_out")))


def dsir_importance(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", target_col: str = "lang",
                    target_value: str = "en",
                    scale: int = 1_000_000) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much its token distribution resembles a
    TARGET domain (here: the rows whose ``target_col`` equals
    ``target_value``) relative to the raw corpus, using the corpus's own
    unigram counts as the two bag-of-words language models. High scores
    are target-domain-like documents — DSIR keeps the top mass.

    The per-token weight is the likelihood ratio
    ``p_target(t) / p_raw(t) = (c_tgt·N_raw) / (c_raw·N_tgt)`` in exact
    integer micro-units; a document's score is its tf-weighted SUM of
    ratios (the order-independent integer analogue of DSIR's log-ratio
    sum — same ranking family, no float summation anywhere)::

        micro(t) = (((scale·c_tgt) div c_raw) · N_raw) div N_tgt
        score    = Σ_t tf·micro(t)            -- BIGINT, engine-exact

    Tokens absent from the target score 0 (no smoothing needed: c_raw ≥
    tf ≥ 1 for every token a document contains, so the divide is always
    defined). The stepwise ``div`` differs from the one-shot rational by
    < 1 micro-unit, identically in every engine. Int64 envelope:
    ``scale·c_tgt`` then ``ratio·N_raw`` bind — safe while
    ``scale · N_tgt < 2^63 / N_raw`` (at the default scale: corpora to
    ~3e9 target tokens × 3e9 raw tokens; past that drop ``scale``, and
    Spark's non-ANSI wrap vs DuckDB's HUGEINT makes an overflow a loud
    cross-engine divergence, not a silent wrong answer).

    Plan shape at 100 TB: one scan-side explode, a map-side-combining
    ``(doc, term)`` aggregate, then ONE vocabulary aggregate producing
    BOTH models (``c_raw`` and the filtered ``c_tgt`` in the same
    pass — the target flag rides the tf rows, so there is no second
    corpus scan), a two-value scalar fold broadcast back, and an
    equi-join on distinct doc-term pairs that AQE broadcasts while the
    vocabulary fits.

    Returns (id, is_target, n_tokens, dsir_micro, dsir) per document
    with ≥ 1 token; ``dsir`` is the single closing IEEE divide
    ``score / (scale·n_tokens)``.
    """
    exploded = (df.select(F.col(id_col),
                          (F.col(target_col) == F.lit(target_value))
                          .alias("__tgt"),
                          F.explode(tokens(text_col)).alias("term"))
                .filter(F.col("term").isNotNull()))
    # checkpointed like surprisal_micro_fold's tf: exchange reuse does
    # NOT collapse the tf/vocab/totals consumers' scan subtrees
    # (per-branch column pruning de-canonicalizes them; a ×100 probe
    # measured the un-checkpointed fold at 3× the single scan+explode)
    tf = (exploded.groupBy(id_col, "__tgt", "term")
          .agg(F.count(F.lit(1)).alias("tf"))
          # eager=False: no scan at build time; first action
          # materializes once (lifecycle note at text.py's
          # surprisal_micro_fold)
          .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY))
    # one vocabulary aggregate yields both models; totals fold it and
    # every consumer reads the materialized (doc, term) RDD
    vocab = (tf.groupBy("term")
             .agg(F.sum("tf").alias("__craw"),
                  F.sum(F.when(F.col("__tgt"), F.col("tf"))
                        .otherwise(F.lit(0))).alias("__ctgt")))
    totals = vocab.agg(F.sum("__craw").alias("__nraw"),
                       F.sum("__ctgt").alias("__ntgt"))
    return (tf.join(vocab, "term")
            .crossJoin(F.broadcast(totals))
            # the CASE guards N_tgt = 0 (no target rows): Spark's div
            # would yield NULL where DuckDB's // raises — make the empty
            # target an all-zero score in both engines instead
            .withColumn("__micro",
                        F.expr(f"CASE WHEN __ntgt = 0 THEN CAST(0 AS BIGINT)"
                               f" ELSE (((CAST({int(scale)} AS BIGINT)"
                               " * __ctgt) div __craw) * __nraw) div __ntgt"
                               " END"))
            .groupBy(id_col)
            .agg(F.first("__tgt").alias("is_target"),
                 F.sum("tf").alias("n_tokens"),
                 F.sum(F.col("tf") * F.col("__micro")).alias("dsir_micro"))
            # 6-dp rounding in INTEGER arithmetic (half-up), not
            # round(double, 6): the quotient can land on an IEEE midpoint
            # where Spark's and DuckDB's last-digit choices differ (the
            # .xx5 tie class from the verify gotchas). whole*1e6 + the
            # half-up-rounded fractional micro puts the value on an exact
            # 1e-6 grid; the closing divide of two exact integers is then
            # the same IEEE op in both engines.
            # frac = round(rem·1e6 / b) with b = scale·n_tokens reduces
            # (cancel the common 1e6 factor) to (2·rem + n) div (2·n) —
            # algebraically identical floors, but the intermediate stays
            # ≤ ~2·scale·n_tokens instead of 2e6·scale·n_tokens: the
            # naive form wrapped silently past ~4.6M tokens per document
            # (a ~25 MB web page — reachable); the reduced form is safe
            # to ~4.6e12 tokens per document (unreachable)
            .withColumn("__b", F.expr(f"CAST({int(scale)} AS BIGINT)"
                                      " * n_tokens"))
            .withColumn("__r6", F.expr(
                "(dsir_micro div __b) * 1000000"
                " + (2 * (dsir_micro % __b) + n_tokens) div (2 * n_tokens)"))
            .select(F.col(id_col), F.col("is_target"), F.col("n_tokens"),
                    F.col("dsir_micro"),
                    (F.col("__r6").cast("double") / F.lit(1000000.0))
                    .alias("dsir")))


def export_shards(df: DataFrame, out_dir: str, *,
                  split_col: str = "split",
                  max_records_per_file: int = 10_000) -> DataFrame:
    """Size-governed training-set export: write the frame as parquet
    partitioned by ``split_col`` with ``maxRecordsPerFile`` capping every
    file — the knob that keeps shards loader-friendly at 100 TB (without
    it, one task can emit a multi-GB file a downstream dataloader cannot
    parallelize over; with it, Spark rolls files at the cap with no extra
    shuffle). Returns the re-read frame so callers verify the ROUND TRIP,
    not the writer's intent.

    The cap is enforced per written file post-hoc and DISTRIBUTED — a
    group-by on ``input_file_name()`` over the re-read — so it works on
    any filesystem Spark can read (s3a/hdfs/local alike; a driver-side
    os.walk would silently validate nothing on object stores), raising
    loudly rather than silently producing jumbo shards.
    """
    (df.write.mode("overwrite")
       .option("maxRecordsPerFile", str(max_records_per_file))
       .partitionBy(split_col)
       .parquet(out_dir))
    back = df.sparkSession.read.parquet(out_dir)
    over = (back.groupBy(F.input_file_name().alias("__f"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_records_per_file)
            .limit(1).collect())
    if over:
        raise RuntimeError(
            f"shard {over[0]['__f']} holds {over[0]['__n']} rows > cap "
            f"{max_records_per_file}")
    return back


def unimax_allocation(df: DataFrame, text_col: str = "text",
                      group_col: str = "lang",
                      budget: tuple[int, int] = (3, 1),
                      cap_epochs: int = 4,
                      scale: int = 1_000_000) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): share a total token ``budget`` (a rational multiple
    ``num/den`` of the corpus's own token count) UNIFORMLY across groups,
    except no group repeats more than ``cap_epochs`` epochs — the
    waterfilling that stops high-resource languages from drowning the
    mixture while never over-duplicating low-resource ones.

    The iterative waterfill has a closed form over groups sorted
    ascending by their epoch-capped supply ``s = cap_epochs * n``: group
    i is capped iff ``s_i * (G - i + 1) <= B - prefix_i`` (prefix = sum
    of s over earlier groups). The condition's truth is monotone
    non-increasing down the sort even with the naive full prefix —
    if it fails at i, then for j > i::

        B - prefix_j <= B - prefix_i - (j-i)*s_i < s_i*(G-i+1-(j-i))
                     <= s_j*(G-j+1)

    so ONE window pass computes the exact fixpoint: capped groups take
    ``s``, the leftover ``R`` splits as ``R div k`` over the ``k``
    uncapped groups with the ``R mod k`` remainder going one token each
    to the first uncapped groups in sort order. All integer arithmetic —
    bit-identical in any engine. int64 envelope for the waterfill:
    ``cap_epochs * n_max * G < 2^63`` (the capped test's product) and
    ``budget_num * T < 2^63`` (the budget resolve); the epochs
    micro-units run in a DECIMAL(38,0) lane (DuckDB: HUGEINT) because
    ``scale * alloc_tokens`` already clears int64 at ~9e12 allocated
    tokens — well inside a 100 TB corpus. Reported ``epochs`` = alloc/n,
    HALF-UP rounded to 6 dp in integers before the one closing divide.

    Plan shape at 100 TB: ONE map-side-combining per-group aggregation
    of token counts; everything after runs on a groups-sized frame (the
    single-partition windows are bounded by the group domain, like
    :func:`epoch_schedule`'s broadcast schedule).

    Returns (group_col, n_tokens, cap_tokens, capped, alloc_tokens,
    epochs), one row per group with at least one token.
    """
    bn, bd = budget
    if min(bn, bd) <= 0 or cap_epochs <= 0:
        raise ValueError(f"budget and cap_epochs must be positive, got "
                         f"budget={budget}, cap_epochs={cap_epochs}")
    lt = (df.select(F.col(group_col),
                    F.size(tokens(text_col)).alias("__dl"))
          .groupBy(group_col)
          .agg(F.sum("__dl").cast("bigint").alias("n_tokens"))
          .filter(F.col("n_tokens") > 0))
    every = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    asc = Window.partitionBy().orderBy("cap_tokens", group_col)
    prior = asc.rowsBetween(Window.unboundedPreceding, -1)
    upto = asc.rowsBetween(Window.unboundedPreceding, 0)
    s = (lt.withColumn("cap_tokens",
                       (F.col("n_tokens") * cap_epochs).cast("bigint"))
         .withColumn("__g", F.count(F.lit(1)).over(every))
         .withColumn("__t", F.sum("n_tokens").over(every))
         .withColumn("__b", F.expr(f"(CAST({bn} AS BIGINT) * __t)"
                                   f" div {bd}"))
         .withColumn("__i", F.row_number().over(asc))
         .withColumn("__prefix",
                     F.coalesce(F.sum("cap_tokens").over(prior), F.lit(0)))
         .withColumn("capped",
                     F.col("cap_tokens") * (F.col("__g") - F.col("__i") + 1)
                     <= F.col("__b") - F.col("__prefix")))
    s = (s.withColumn("__capped_sum",
                      F.coalesce(F.sum(F.when(F.col("capped"),
                                              F.col("cap_tokens")))
                                 .over(every), F.lit(0)))
         .withColumn("__k",
                     F.sum(F.when(~F.col("capped"), 1).otherwise(0))
                     .over(every))
         .withColumn("__r", F.col("__b") - F.col("__capped_sum"))
         .withColumn("__urank",
                     F.sum(F.when(~F.col("capped"), 1).otherwise(0))
                     .over(upto))
         .withColumn("alloc_tokens", F.when(
             F.col("capped"), F.col("cap_tokens")).otherwise(
             F.expr("__r div __k")
             + F.when(F.col("__urank") <= F.expr("__r % __k"), 1)
             .otherwise(0)).cast("bigint")))
    return (s.withColumn("__em", F.expr(
                f"(CAST({int(scale)} AS DECIMAL(38,0)) * alloc_tokens"
                f" + n_tokens div 2) div n_tokens"))
            .select(group_col, "n_tokens", "cap_tokens", "capped",
                    "alloc_tokens",
                    (F.col("__em").cast("double")
                     / F.lit(float(scale))).alias("epochs")))


def doremi_reweight(df: DataFrame, text_col: str = "text",
                    group_col: str = "source",
                    eta: tuple[int, int] = (1, 1),
                    scale: int = 1_000_000) -> DataFrame:
    """One DoReMi reweighting step (Xie et al. 2023, "DoReMi: Optimizing
    Data Mixtures Speeds Up Language Model Pretraining"): tilt each
    domain's mixture weight by its EXCESS LOSS over a reference, so the
    next training round over-samples domains the current model finds
    hard. The engine-native instantiation keeps every step exact:

    - per-domain loss = mean per-token unigram surprisal in integer
      micro-units (the :func:`~projectone_spark.functions.text.
      unigram_surprise` proxy — no external model), reference = the
      corpus-wide mean;
    - excess = max(0, domain_loss - reference_loss) (DoReMi's clipped
      per-domain excess);
    - update: DoReMi's exponentiated-gradient step ``w ∝ w·exp(η·excess)``
      is replaced by its LINEAR multiplicative-weights twin
      ``w ∝ tokens·(1 + η·excess/ref)`` (the first-order expansion with
      the excess normalized by the reference loss) so the whole update
      stays in integer arithmetic — same fixed point (zero excess ⇒
      token-share mixture), same monotone tilt, no transcendental
      floats to adjudicate;
    - normalization: weights land on an exact ``scale``-unit grid via
      LARGEST-REMAINDER apportionment (floor quotas, then one extra unit
      to the largest remainders, ties by domain name), so
      ``Σ weight_micro == scale`` exactly — as does the reported
      token-share ``baseline_micro`` grid, making the tilt auditable
      row-by-row. DoReMi's uniform-smoothing term is unnecessary here:
      the linear factor is ≥ 1, so no domain's RAW weight can vanish
      (a sub-``1/scale`` share can still floor to 0 grid units, in
      which case ``boost`` is NULL — both engines, guarded).

    Integer envelopes (all documented-not-checked, like ``t10``):
    per-token micro-units need ``scale·N < 2^63`` (N = corpus tokens —
    ~40 TB of text at the default scale; drop ``scale`` past that);
    the 128-bit DECIMAL(38,0)/HUGEINT lane holds the per-domain
    surprisal sums and the apportionment products, whose worst case is
    ``scale²·η·N·T_g < 10^38``.

    Plan shape at 100 TB: ONE corpus scan → (domain, term) counts; the
    vocabulary fold, the domain fold, and the apportionment all run on
    vocabulary- or domain-bounded frames (the single-partition windows
    are bounded by the domain count, like :func:`unimax_allocation`'s).

    Returns (group_col, n_tokens, mean_surprise_micro, ref_micro,
    excess_micro, baseline_micro, weight_micro, boost) — one row per
    domain with at least one token, ``boost = weight/baseline`` HALF-UP
    at 6 dp.

    Eager: building this frame runs Spark jobs. The (domain, term)
    counts are ``localCheckpoint(eager=True)``-ed in
    ``text.surprisal_micro_fold`` before it returns.
    """
    from projectone_spark.functions.text import surprisal_micro_fold

    en, ed = eta
    if min(en, ed) <= 0:
        raise ValueError(f"eta must be a positive rational, got {eta}")
    # ONE shared definition of the surprisal recipe with t10 (the fold
    # is keyed by domain here, by document there)
    dom = (surprisal_micro_fold(df, group_col, text_col, scale)
           .groupBy(group_col)
           .agg(F.sum("tf").cast("bigint").alias("n_tokens"),
                F.sum(F.expr("CAST(tf AS DECIMAL(38,0)) * __micro"))
                .alias("__s")))
    every = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    d = (dom.withColumn("mean_surprise_micro",
                        F.expr("(2 * __s + n_tokens) div (2 * n_tokens)"))
         .withColumn("__t_all", F.sum("n_tokens").over(every))
         .withColumn("__s_all", F.sum("__s").over(every))
         .withColumn("ref_micro",
                     F.expr("(2 * __s_all + __t_all) div (2 * __t_all)"))
         .withColumn("excess_micro",
                     F.greatest(F.lit(0).cast("bigint"),
                                F.col("mean_surprise_micro")
                                - F.col("ref_micro")))
         # rel = HALF-UP micro-units of eta * excess / ref
         .withColumn("__rel", F.expr(
             f"(CAST(excess_micro AS DECIMAL(38,0))"
             f" * {2 * int(en) * int(scale)} + {int(ed)} * ref_micro)"
             f" div (CAST(2 AS BIGINT) * {int(ed)} * ref_micro)"))
         .withColumn("__w", F.expr(
             f"CAST(n_tokens AS DECIMAL(38,0))"
             f" * (CAST({int(scale)} AS BIGINT) + __rel)")))

    def _apportion(frame: DataFrame, num_col: str, out_col: str,
                   tag: str) -> DataFrame:
        """Largest-remainder apportionment of ``scale`` units across
        domains, proportional to ``num_col`` (exact: floors + one unit
        to the largest remainders, remainder ties by domain name)."""
        tot, flo, rem, rnk, dfc = (f"__{tag}{s}" for s in
                                   ("tot", "flo", "rem", "rnk", "dfc"))
        by_rem = Window.partitionBy().orderBy(
            F.desc(rem), F.asc(group_col))
        return (frame
                .withColumn(tot, F.sum(num_col).over(every))
                .withColumn(flo, F.expr(
                    f"(CAST({num_col} AS DECIMAL(38,0)) * {int(scale)})"
                    f" div {tot}"))
                .withColumn(rem, F.expr(
                    f"(CAST({num_col} AS DECIMAL(38,0)) * {int(scale)})"
                    f" % {tot}"))
                .withColumn(dfc,
                            F.lit(int(scale)).cast("bigint")
                            - F.sum(flo).over(every))
                .withColumn(rnk, F.row_number().over(by_rem))
                .withColumn(out_col,
                            (F.col(flo)
                             + F.when(F.col(rnk) <= F.col(dfc), 1)
                             .otherwise(0)).cast("bigint"))
                .drop(tot, flo, rem, rnk, dfc))

    d = _apportion(d, "__w", "weight_micro", "w")
    d = _apportion(d, "n_tokens", "baseline_micro", "b")
    # zero-guard mirrors the oracle: a domain whose token share rounds
    # to 0 grid units (share < 1/scale with no remainder unit) reports
    # boost NULL — ANSI Spark would otherwise abort on the division
    # while DuckDB returns NULL
    return (d.withColumn("boost", F.when(
                F.col("baseline_micro") > 0,
                F.expr(
                    f"CAST((2 * weight_micro * CAST({int(scale)} AS BIGINT)"
                    " + baseline_micro) div (2 * baseline_micro) AS DOUBLE)")
                / F.lit(float(scale))))
            .select(group_col, "n_tokens", "mean_surprise_micro",
                    "ref_micro", "excess_micro", "baseline_micro",
                    "weight_micro", "boost"))


def perplexity_buckets(scored: DataFrame, group_col: str = "source",
                       score_col: str = "surprise_micro",
                       id_col: str = "doc_id",
                       n_buckets: int = 3,
                       labels: Sequence[str] = ("head", "middle", "tail"),
                       ) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3: each
    language's documents split into head/middle/tail thirds by LM
    perplexity; training recipes then keep the head, or sample buckets
    at different rates). ``scored`` is any frame carrying a per-document
    integer quality score — the natural feed is
    :func:`~projectone_spark.functions.text.unigram_surprise`'s exact
    micro-unit surprisal, so lower = more fluent = ``head``.

    Buckets come from ``ntile(n)`` over a TOTAL order (score, then id):
    the SQL-standard ntile is engine-portable bit-for-bit (first
    ``n_rows mod n`` buckets take the extra row), and the id tie-break
    makes the assignment deterministic under re-runs and repartitioning
    even when a score value straddles a boundary.

    Scale shape: ONE window over the per-document score frame —
    per-group sort parallelism is the group count, the same shape (and
    the same skew caveat) as curriculum_order's global sort, but over
    one bounded-width row per document, never corpus text. Returns the
    input columns plus ``bucket``.
    """
    if not 1 <= n_buckets == len(labels):
        raise ValueError(
            f"need one label per bucket: n_buckets={n_buckets}, "
            f"labels={list(labels)}")
    w = Window.partitionBy(group_col).orderBy(F.col(score_col),
                                              F.col(id_col))
    lab = F.array(*[F.lit(s) for s in labels])
    return (scored.withColumn("__nt", F.ntile(n_buckets).over(w))
            .withColumn("bucket", F.element_at(lab, F.col("__nt")))
            .drop("__nt"))


def int_sqrt(col: Column | str) -> Column:
    """Exact integer square root ``floor(sqrt(m))`` for a non-negative
    BIGINT — engine-portable without trusting float precision: the
    IEEE double ``sqrt`` guess is correctly rounded (within one of the
    true floor over the whole int64 range, since even a 2^63-scale
    input's double representation error perturbs the root by ≪ 1), and
    a ±1 fixup makes it exact. The probes compare via integer DIVISION
    (``g+1 <= m div (g+1)`` ⇔ ``(g+1)² <= m``), never by squaring, so
    they cannot overflow near int64 max where ``(isqrt(max)+1)²``
    would. This is how α=1/2 temperature scaling stays inside the
    engine's exact-integer discipline — sqrt is the one fractional
    power whose result is integer-checkable."""
    m = F.col(col) if isinstance(col, str) else col
    g = F.floor(F.sqrt(m.cast("double"))).cast("bigint")
    too_big = (g > 0) & (F.call_function("div", m, g) < g)  # g² > m
    too_small = F.call_function("div", m, g + 1) >= g + 1  # (g+1)² <= m
    return (F.when(m <= 0, F.lit(0).cast("bigint"))
            .when(too_big, g - 1)
            .when(too_small, g + 1)
            .otherwise(g))


def largest_remainder(frame: DataFrame, group_col: str, num_col: str,
                      out_col: str, units: int) -> DataFrame:
    """Largest-remainder apportionment of exactly ``units`` integer
    units across the frame's rows, proportional to ``num_col``: floors
    first, then one extra unit to the largest remainders (ties broken
    by ``group_col`` ascending) — the doremi/unimax grid discipline as
    a standalone helper. Column sums to exactly ``units`` by
    construction; DECIMAL(38,0) lane because ``num × units`` wraps
    int64 within the advertised corpus scale."""
    every = Window.partitionBy()
    by_rem = Window.partitionBy().orderBy(F.desc("__lr_rem"),
                                          F.asc(group_col))
    return (frame
            .withColumn("__lr_tot", F.sum(num_col).over(every))
            # zero total mass has no proportional answer — fail loudly
            # at execution (the frame is lazy, so a driver-side count
            # here would cost an extra action) instead of surfacing an
            # opaque ANSI DIVIDE_BY_ZERO from inside the plan
            .withColumn("__lr_tot", F.when(
                F.col("__lr_tot") > 0, F.col("__lr_tot")).otherwise(
                F.raise_error(F.lit(
                    "largest_remainder: total mass is zero — nothing"
                    " to apportion"))))
            .withColumn("__lr_flo", F.expr(
                f"(CAST({num_col} AS DECIMAL(38,0)) * {int(units)})"
                " div __lr_tot"))
            .withColumn("__lr_rem", F.expr(
                f"(CAST({num_col} AS DECIMAL(38,0)) * {int(units)})"
                " % __lr_tot"))
            .withColumn("__lr_dfc", F.lit(int(units)).cast("bigint")
                        - F.sum("__lr_flo").over(every))
            .withColumn("__lr_rnk", F.row_number().over(by_rem))
            .withColumn(out_col,
                        (F.col("__lr_flo")
                         + F.when(F.col("__lr_rnk") <= F.col("__lr_dfc"), 1)
                         .otherwise(0)).cast("bigint"))
            .drop("__lr_tot", "__lr_flo", "__lr_rem", "__lr_rnk",
                  "__lr_dfc"))


def temperature_mixture_allocation(df: DataFrame, budget_tokens: int,
                                   group_col: str = "source",
                                   text_col: str = "text",
                                   scale: int = 1_000_000) -> DataFrame:
    """Temperature-scaled mixture NORMALIZED to a token budget — the
    multilingual-pretraining sampling rule (mBERT / XLM-R style:
    ``q_s ∝ p_s^α`` flattens dominant sources) at α = 1/2, the one
    fractional temperature the exact-integer discipline can carry
    end-to-end: group masses are exact token counts, ``p^(1/2)`` is
    :func:`int_sqrt` (exact), and both the mixture weights (summing to
    exactly ``scale``) and the per-group token quotas (summing to
    exactly ``budget_tokens``) close with largest-remainder
    apportionment — no float normalization anywhere, so an external
    oracle reproduces every row bit-for-bit.

    This is the budget-normalized production variant
    :func:`temperature_quota_sample`'s docstring points at but
    deliberately does not compute (its quota is a pure per-group
    function; cross-group float normalization would not be
    engine-portable — fixed-point apportionment is).

    Scale shape: one scan-side token count, one bounded per-group
    aggregate, two window passes over the GROUP frame (rows = number
    of sources, never corpus-sized). Returns one row per group:
    (group, n_docs, n_tokens, sqrt_tokens, weight_micro,
    quota_tokens).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    from projectone_spark.functions.text import token_count

    mass = (df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(token_count(text_col)).cast("bigint")
                  .alias("n_tokens"))
            .withColumn("sqrt_tokens", int_sqrt("n_tokens")))
    out = largest_remainder(mass, group_col, "sqrt_tokens",
                            "weight_micro", int(scale))
    return largest_remainder(out, group_col, "sqrt_tokens",
                             "quota_tokens", int(budget_tokens))
