"""Text analysis operators for document pipelines: normalization, token
statistics, quality scoring, language identification, fingerprinting.

Everything is a Catalyst expression (no UDFs). Two structural rules keep
these fast at scale (learned from .explain + bench):

1. **Never embed the normalize/tokenize chain inside a higher-order-function
   lambda** — Catalyst re-evaluates the full expression tree per array
   element. Materialize ``__norm``/``__toks`` in a projection first and have
   lambdas reference the plain attribute.
2. **Put an exchange between that projection and CPU-heavy consumers**
   (``spread``): small single-file inputs otherwise run one task, and the
   exchange also stops CollapseProject from inlining the chain back into
   the lambdas.
"""

from __future__ import annotations

import string
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame

from projectone_spark.functions import values_frame
from projectone_spark.session import release_checkpoint

#: Tiny per-language marker vocabularies for the stopword language heuristic.
#: Ties resolve to the alphabetically first language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "and", "of", "is", "to", "in"),
    "es": ("el", "la", "de", "que", "y", "los", "un"),
    "fr": ("le", "les", "des", "et", "est", "une", "dans"),
}

#: English stopwords used by the quality score.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "this",
)


def _q6(scale: int) -> int:
    """1e6/scale as an exact int — the cancellation factor the reduced
    integer 6-dp rounding forms below rely on (see dsir_importance)."""
    q, rem = divmod(1_000_000, int(scale))
    if rem:
        raise ValueError(f"scale must divide 1e6 for exact 6-dp rounding, "
                         f"got {scale}")
    return q


def spread(df: DataFrame, parallelism: int | None = None,
           by: str | Column | None = None) -> DataFrame:
    """Repartition before a CPU-bound per-row stage.

    Small inputs (one parquet file) otherwise run single-task; the exchange
    also acts as a projection barrier (see module docstring). At real scale
    callers can pass ``parallelism=0`` to skip when inputs are already wide.

    ``by`` names a high-cardinality column (a unique id) to HASH-partition
    on instead of round-robin (r13, guide §2.5): a keyless ``repartition(n)``
    first pays a local sort of its input (``sortBeforeRepartition``, kept on
    for retry determinism) — measured at seconds per map task when the rows
    carry documents — while hash partitioning is sort-free, deterministic
    under retries by construction, and downstream aggregates keyed on a
    superset of ``by`` (``groupBy(id, ...)``) reuse the partitioning with no
    second exchange. Only pass a column whose values are unique (or near-);
    a hot key would concentrate rows where round-robin cannot.
    """
    if parallelism == 0:
        return df
    n = parallelism or _spread_width(df)
    if by is not None:
        return df.repartition(n, F.col(by) if isinstance(by, str) else by)
    return df.repartition(n)


#: input bytes (plan estimate) per spread task. Sized so a task's fixed
#: overhead (~10-30 ms: setup, shuffle write, SMT contention in one local
#: JVM) stays well under its chunk's per-row work (regex/md5 chains run
#: ~50-300 ms per 16 KiB) — the r13 A/B measured a 32-way spread of a
#: 250 KB corpus at 4x the CPU of the same work 8-way, for no wall win.
_SPREAD_CHUNK_BYTES = 16 * 1024


def _spread_width(df: DataFrame) -> int:
    """Scale-adaptive spread width (guide §2: derive partitioning from
    input size, not a constant): ~one task per ``_SPREAD_CHUNK_BYTES`` of
    the plan's estimated input, at most ``defaultParallelism`` and at
    least 4 — the floor of 4 wins, so under ``defaultParallelism`` < 4
    (e.g. ``local[2]``) every spread is 4 wide.
    Frames without statistics (in-memory micro-batches, local relations)
    estimate huge and get full width — at real scale every estimate
    exceeds the cap, so this only narrows tiny local inputs."""
    default = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # pragma: no cover - stats always exist in practice
        return default
    return max(4, min(default, est // _SPREAD_CHUNK_BYTES + 1))


def normalize(col: Column | str) -> Column:
    """Lowercase, strip non-alphanumerics to spaces, collapse runs, trim.

    The result equals ``trim(collapse(regexp_replace(lower(c),
    '[^a-z0-9 ]', ' ')))`` for every string, but no case mapping runs:
    Spark's ``lower`` goes through ICU, and the first call in a JVM loads
    ICU's case data (about 2.5 s on 4 vCPU, paid by every cold batch run;
    PLANS.md, "Cold-start cost"). Of all non-ASCII code points only two
    lowercase to anything ``[a-z0-9]`` keeps: U+212A (Kelvin sign) to
    ``k``, and U+0130 (``İ``) to ``i`` plus U+0307, a combining dot the
    next step turns into a space. So ASCII A-Z and U+212A are
    translated, U+0130 becomes ``"i "``, and every other code point is
    stripped as before. ``tests/test_normalize_equivalence.py`` checks
    every code point.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(c, string.ascii_uppercase + "\u212a",
                    string.ascii_lowercase + "k")
    c = F.replace(c, F.lit("\u0130"), F.lit("i "))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def normalizes_nonempty(col: Column | str) -> Column:
    """``normalize(col) != ''`` decided on the raw text: true where it
    holds a character that :func:`normalize` turns into ``[a-z0-9]``
    (ASCII letters and digits, U+0130, U+212A). The rlike stops at the
    first match and runs none of normalize's regex chain."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike("[A-Za-z0-9\u0130\u212a]")


def tokens_of_norm(norm: Column | str) -> Column:
    """Whitespace tokens of already-normalized text (empty → empty array)."""
    c = F.col(norm) if isinstance(norm, str) else norm
    return F.when(c == "", F.array().cast("array<string>")).otherwise(F.split(c, " "))


def tokens(col: Column | str) -> Column:
    """Tokens of raw text. Prefer projecting ``normalize`` to a column and
    using :func:`tokens_of_norm` when the result feeds lambdas."""
    return tokens_of_norm(normalize(col))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def char_ratio(col: Column | str, char_class: str) -> Column:
    """Fraction of characters matching a regex char class (of raw length)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    matched = F.length(c) - F.length(F.regexp_replace(c, char_class, ""))
    return F.when(n > 0, matched.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_hits(toks: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def non_ascii_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.regexp_replace(c, r"[^\x00-\x7F]", ""))).cast("bigint")


def fingerprint_of_norm(norm: Column | str) -> Column:
    """Key-collapse fingerprint: md5 over the sorted distinct token set —
    robust to token order and duplication (near-dup canonicalization)."""
    toks = tokens_of_norm(norm)
    canon = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return F.md5(canon.cast("binary"))


def fingerprint(col: Column | str) -> Column:
    return fingerprint_of_norm(normalize(col))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               parallelism: int | None = None) -> DataFrame:
    """Per-document statistics frame (the `documents` table operator)."""
    # spread raw rows by the unique id; normalize after the exchange
    # (r13 — below it the regex chain ran in the serial map task)
    base = (spread(df.select(F.col(id_col), F.col(text_col).alias("__text")),
                   parallelism, by=id_col)
            .select(F.col(id_col), F.col("__text"),
                    normalize("__text").alias("__norm")))
    toks = tokens_of_norm("__norm")
    n_tok = F.size(toks).cast("bigint")
    punct = char_ratio("__text", r"[^A-Za-z0-9\s]")
    stop = (F.when(n_tok > 0,
                   stopword_hits(toks).cast("double") / n_tok.cast("double"))
            .otherwise(F.lit(0.0)))
    len_score = F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0))
    stop_score = F.lit(1.0) - F.least(F.abs(stop - F.lit(0.3)) * 2, F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct * 4, F.lit(1.0))
    return base.select(
        F.col(id_col),
        F.length("__text").cast("bigint").alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(punct, 4).alias("punct_ratio"),
        F.round(char_ratio("__text", r"[0-9]"), 4).alias("digit_ratio"),
        F.round(stop, 4).alias("stop_ratio"),
        F.round(len_score * 0.4 + stop_score * 0.3 + punct_score * 0.3, 4)
         .alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            truth_col: str | None = "lang",
            parallelism: int | None = None) -> DataFrame:
    """Marker-vocabulary language identification (argmax over per-language
    token-hit scores; zh scored by non-ASCII character count; ties resolve
    alphabetically; all-zero → 'und')."""
    keep = [id_col] + ([truth_col] if truth_col else [])
    base = (spread(df.select(*keep, F.col(text_col).alias("__text")),
                   parallelism, by=id_col)
            .select(*keep, F.col("__text"),
                    tokens("__text").alias("__toks")))
    def marker_filter(markers: tuple[str, ...]):
        # factory keeps the F.filter callable unary (two-parameter callables
        # receive the array index as the second argument)
        return lambda t: t.isin(*markers)

    scores: dict[str, Column] = {
        lang: F.size(F.filter(F.col("__toks"), marker_filter(markers))).cast("bigint")
        for lang, markers in LANG_MARKERS.items()
    }
    scores["zh"] = non_ascii_count("__text")
    langs = sorted(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = None
    for lang in langs:
        cond = (scores[lang] == best) & (best > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    pred = expr.otherwise(F.lit("und"))
    out = [F.col(id_col)] + ([F.col(truth_col)] if truth_col else [])
    out.append(pred.alias("pred_lang"))
    if truth_col:
        out.append((pred == F.col(truth_col)).cast("int").alias("is_correct"))
    return base.select(*out)


#: GPT-2-style pre-tokenizer pattern, restricted to the regex subset both
#: Java (Spark) and RE2 (DuckDB) implement identically: contractions,
#: space-prefixed letter runs, digit runs, punctuation runs, whitespace.
#: (The original's trailing-space lookahead is dropped — RE2 has no
#: lookahead; whitespace-only matches are filtered out when counting.)
BPE_ISH_PATTERN = (r"'(?:s|t|re|ve|m|ll|d)"
                   r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")


def bpe_ish_tokens(col: Column | str) -> Column:
    """Subword-ish tokens of RAW text (not normalized): the merge-aware
    split a byte-pair tokenizer starts from. Whitespace-only matches are
    kept out so ``size()`` approximates an LLM token count."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)
    return F.filter(toks, lambda t: ~t.rlike(r"^\s+$"))


def bpe_ish_token_count(col: Column | str) -> Column:
    return F.size(bpe_ish_tokens(col))


def ngram_join(toks: Column, n: int) -> Column:
    """``array<string>`` of space-joined n-grams of a token array (empty
    when the document has fewer than n tokens). Codegen-only: sequence +
    transform over 1-based element_at — no explode, the n-gram list stays
    row-local until the caller aggregates."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(n)]))
    return F.when(F.size(toks) >= n, grams) \
            .otherwise(F.array().cast("array<string>"))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_dup_frac: float = 0.3,
                     parallelism: int | None = None) -> DataFrame:
    """Gopher-style repetition quality signal: the fraction of duplicate
    2-grams and 3-grams per document (1 − distinct/total), with a keep
    flag at ``dup3 ≤ max_dup_frac``. Highly repetitive machine-generated
    or boilerplate text scores high and gets dropped by pretraining
    pipelines (Rae et al. 2021, "Scaling Language Models", §A1.2).

    Scale shape: everything is a scan-side expression on a materialized
    token array — per-document work is O(tokens), nothing shuffles except
    the final result rows.
    """
    base = (spread(df.select(F.col(id_col), F.col(text_col)), parallelism,
                   by=id_col)
            .select(F.col(id_col), normalize(text_col).alias("__norm")))
    base = base.withColumn("__toks", tokens_of_norm("__norm"))

    def dup_frac(n: int) -> Column:
        grams = ngram_join(F.col("__toks"), n)
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        return F.when(total > 0,
                      F.lit(1.0) - distinct.cast("double") / total.cast("double")
                      ).otherwise(F.lit(0.0))

    return base.select(
        F.col(id_col),
        F.round(dup_frac(2), 4).alias("dup_2gram_frac"),
        F.round(dup_frac(3), 4).alias("dup_3gram_frac"),
        (F.round(dup_frac(3), 4) <= max_dup_frac).alias("keep"))


#: PII patterns shared by the Spark and oracle sides — RE2-compatible
#: (no lookaround) so Java, RE2, and DuckDB's regex engine all agree.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
}


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              parallelism: int | None = None) -> DataFrame:
    """Per-document PII redaction: emails, IPv4 addresses, and NNN-NNN-NNNN
    phone numbers are counted and replaced with ``<EMAIL>``/``<IP>``/
    ``<PHONE>`` tags — the standard pretraining-corpus scrub pass. Counts
    come from ``regexp_count`` and the rewrite is chained
    ``regexp_replace`` — all scan-side codegen, no UDF, O(chars) per doc.

    Returns (id, n_email, n_ipv4, n_phone, scrubbed).
    """
    base = spread(df.select(F.col(id_col), F.col(text_col).alias("__t")),
                  parallelism)
    scrubbed = F.col("__t")
    for kind in ("email", "ipv4", "phone"):
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[kind],
                                    f"<{kind.upper().replace('IPV4', 'IP')}>")
    return base.select(
        F.col(id_col),
        F.regexp_count("__t", F.lit(PII_PATTERNS["email"]))
        .cast("bigint").alias("n_email"),
        F.regexp_count("__t", F.lit(PII_PATTERNS["ipv4"]))
        .cast("bigint").alias("n_ipv4"),
        F.regexp_count("__t", F.lit(PII_PATTERNS["phone"]))
        .cast("bigint").alias("n_phone"),
        scrubbed.alias("scrubbed"))


def distinctive_terms(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", group_col: str = "lang",
                      k: int = 5) -> DataFrame:
    """Top-k distinctive terms per group by TF-IDF with a LINEAR idf
    (``tf * N / df_docs``) — deliberately log-free so the score is one
    IEEE-exact multiply + divide that DuckDB and the JVM compute bit-
    identically (a ``ln`` differs by ulps across libms and can flip a
    rounded value or a rank).

    Plan shape: one explode + two hash aggregations (term frequency per
    group; document frequency per term), an equi-join on the term, a
    broadcast of the single-row corpus count, and a size-k-per-group
    window. The explode dominates and is linear in corpus tokens; both
    aggregations combine map-side. No UDFs, no driver loops — at 100 TB
    the term-df aggregate is the big shuffle and it is unavoidable by
    semantics (a global document frequency needs a global group-by).

    Returns (group_col, term, tf, df_docs, score), k rows per group,
    score rounded to 6 decimals, rank ties broken by term.
    """
    from pyspark.sql import Window

    exploded = (df.select(F.col(group_col), F.col(id_col),
                          F.explode(tokens(text_col)).alias("term")))
    tf = (exploded.groupBy(group_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (exploded.groupBy("term")
             .agg(F.countDistinct(id_col).alias("df_docs")))
    total = df.agg(F.countDistinct(id_col).alias("__n_docs"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(total))
              .withColumn("score",
                          F.round((F.col("tf") * F.col("__n_docs"))
                                  / F.col("df_docs").cast("double"), 6)))
    w = (Window.partitionBy(group_col)
         .orderBy(F.col("score").desc(), F.col("term")))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(group_col, "term", "tf", "df_docs", "score"))


def surprisal_micro_fold(df: DataFrame, key_col: str,
                         text_col: str = "text",
                         scale: int = 1_000_000,
                         parallelism: int | None = None,
                         spread_by: str | None = None) -> DataFrame:
    """The shared unigram-surprisal fold: per-(key, term) counts joined
    with the per-token surprisal micro-unit ``(scale * N) div c_t`` —
    ONE definition of the exact recipe, keyed by document for
    :func:`unigram_surprise` (t10) and by domain for
    ``sampling.doremi_reweight`` (p16), so the tokenization / micro
    rounding cannot silently diverge between the score and the mixture
    step that consumes it as a loss proxy.

    One corpus scan, ENFORCED by checkpointing the tf frame: the
    vocabulary counts and the corpus total both fold the tf table, but
    exchange reuse does NOT deduplicate the three consumers' scan
    subtrees (each branch prunes different columns, de-canonicalizing
    the exchanges — measured at a ×100 probe, where the un-checkpointed
    fold cost exactly 3× the single scan+explode; the same failure
    class t14's encode hit). The checkpointed (key, term) counts are
    the t14/t15 pattern: strictly smaller than the exploded tokens,
    and every consumer reads the materialized RDD.
    Returns (key_col, term, tf, __c, __n, __micro).

    Eager: building this frame runs Spark jobs. The (key, term) counts
    are ``localCheckpoint(eager=True)``-ed before it returns.
    """
    # ``spread_by`` hash-spreads on a UNIQUE key before the tokenize so
    # the regex/split chain runs parallel instead of inside the (serial,
    # one-per-input-split) scan task, and the (key, term) groupBy below
    # reuses the partitioning — one exchange total (r13; the
    # bpe_doc_word_counts shape). Callers keyed by a LOW-cardinality
    # column (p16's domains) leave it unset: hashing a hot key would
    # concentrate the corpus on a few tasks. Plain explode (see the
    # bpe_train_merges codegen note).
    base = df.select(F.col(key_col), F.col(text_col))
    if spread_by is not None:
        base = spread(base, parallelism, by=spread_by)
    exploded = (base.select(F.col(key_col),
                            F.explode(tokens(text_col)).alias("term"))
                .filter(F.col("term").isNotNull()))
    tf = (exploded.groupBy(key_col, "term")
          .agg(F.count(F.lit(1)).alias("tf"))
          # DISK_ONLY: a doc-keyed tf at x100 (100M rows) OOMs an 8g
          # heap under the default deserialized in-memory blocks; the
          # disk write is shuffle-class IO and strictly cheaper than
          # the re-tokenize it replaces (measured). eager=False so
          # merely BUILDING the frame costs nothing — the corpus scan
          # runs on the first action, once, and every later consumer
          # reads the materialized RDD (the bpe_doc_word_counts
          # pattern). EAGER since r13: the vocabulary/total/join
          # consumers materialize in separate (broadcast-build) jobs and
          # a lazy checkpoint lets them race-recompute the corpus fold.
          # Lifecycle: the checkpoint blocks live until the
          # session ends; a long-lived session invoking this in a loop
          # should release_checkpoint() the returned frame's ancestors
          # when done with ALL consumers (as bpe_train_merges does)
          .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("__c"))
    total = vocab.agg(F.sum("__c").alias("__n"))
    return (tf.join(vocab, "term")
            .crossJoin(F.broadcast(total))
            .withColumn("__micro",
                        F.expr(f"(CAST({int(scale)} AS BIGINT) * __n)"
                               " div __c")))


def unigram_surprise(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     scale: int = 1_000_000) -> DataFrame:
    """Per-document unigram-LM surprisal score — the engine-native
    analogue of CCNet-style perplexity filtering (Wenzek et al. 2020
    rank Common Crawl documents by a language-model perplexity; a unigram
    model over the corpus's own token distribution is the degenerate case
    that needs no external model and still separates fluent text from
    keyword soup: rare-token-heavy documents score high).

    The per-token surprisal proxy is the inverse corpus frequency
    ``N / c_t``, kept in exact integer micro-units so both engines agree
    bit-for-bit with no float summation anywhere::

        micro(t)  = (1_000_000 * N) div c_t            -- BIGINT
        surprise  = Σ_t micro(t) / (1e6 * n_tokens)    -- one final divide

    The sums are integer (order-independent); the closing division is a
    single correctly-rounded IEEE op on two exactly-represented values.
    Int64 headroom bounds BOTH the per-token unit and the per-document
    sum: a singleton term scores ``scale*N`` micro-units, so the binding
    constraint is ``scale * N * max_tokens_per_doc < 2^63`` (at the
    default scale: ~9e12 divided by the longest document's token count —
    e.g. N ≤ 9e8 tokens for 10k-token documents). Past that, drop
    ``scale`` (the score keeps its ordering; only its granularity
    coarsens) — Spark's non-ANSI bigint sum would wrap silently while
    DuckDB promotes to HUGEINT, so an overflow is a cross-engine
    divergence, not just a wrong number.

    Plan shape at 100 TB: one scan-side explode, a map-side-combining
    ``(doc, term)`` aggregation, a vocabulary aggregation (bounded by
    vocabulary size, not corpus size), one equi-join of the doc-term
    table against the vocabulary (AQE broadcasts it while it fits) and a
    single-row broadcast of the corpus token count. The vocabulary and
    corpus-total FOLD the tf table rather than re-exploding, and the tf
    frame is CHECKPOINTED so the corpus is scanned exactly once — see
    :func:`surprisal_micro_fold` for why exchange reuse alone does not
    deliver that — and the join input stays at distinct doc-term pairs.

    Returns (id, n_tokens, surprise_micro, surprise) for documents with
    at least one token.

    Eager: building this frame runs Spark jobs. The (doc, term) counts
    are ``localCheckpoint(eager=True)``-ed in
    :func:`surprisal_micro_fold` before it returns.
    """
    return (surprisal_micro_fold(df, id_col, text_col, scale,
                                 spread_by=id_col)
            .groupBy(id_col)
            .agg(F.sum("tf").alias("n_tokens"),
                 F.sum(F.col("tf") * F.col("__micro")).alias("surprise_micro"))
            # 6-dp HALF-UP rounding in INTEGER arithmetic, not
            # round(double, 6): the quotient micro/(scale·n) can land on
            # an IEEE .xx5 midpoint where Spark's (shortest-decimal-repr
            # BigDecimal HALF_UP) and DuckDB's (libm) last digits differ.
            # Same reduced form as dsir_importance: the fractional digits
            # round(rem·1e6/(scale·n)) collapse (cancel scale, which must
            # divide 1e6 — guarded below) to (2·rem·q + n) div (2·n) with
            # q = 1e6/scale, keeping intermediates ≤ ~2·scale·n instead of
            # the naive 2e6·scale·n that wraps at ~4.6M-token documents.
            .withColumn("__b", F.expr(f"CAST({int(scale)} AS BIGINT)"
                                      " * n_tokens"))
            .withColumn("__r6", F.expr(
                "(surprise_micro div __b) * 1000000"
                f" + (2 * (surprise_micro % __b) * {_q6(scale)} + n_tokens)"
                " div (2 * n_tokens)"))
            .select(F.col(id_col), F.col("n_tokens"), F.col("surprise_micro"),
                    (F.col("__r6").cast("double") / F.lit(1000000.0))
                    .alias("surprise")))


def bigram_surprise(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    scale: int = 1_000_000) -> DataFrame:
    """Per-document bigram-LM surprisal — one Markov order up from
    :func:`unigram_surprise`, the smallest model that sees word ORDER.
    CCNet (Wenzek et al. 2020) ranks documents by the perplexity of a
    KenLM n-gram model (Heafield 2011); the corpus's own bigram table is
    the self-contained analogue: scrambled or boilerplate-repetitive
    text pairs words in improbable orders and scores high even when its
    unigram mix looks fluent.

    The per-bigram surprisal proxy is the inverse conditional frequency
    ``c(w_prev ·) / c(w_prev w)``, in exact integer micro-units like the
    unigram twin (no float summation; one closing IEEE divide)::

        micro(p, w) = (scale * c(p ·)) div c(p, w)      -- BIGINT, >= scale
        surprise    = Σ micro / (scale * n_bigrams)     -- >= 1.0

    Int64 envelope (same discipline as :func:`unigram_surprise`): a
    bigram whose prefix is the corpus's hottest word scores up to
    ``scale * c(p ·)`` micro-units, so the binding constraint is
    ``scale * max_prefix_count * max_bigrams_per_doc < 2^63`` — looser
    than the unigram bound (prefix counts ≪ N). Past it, drop ``scale``:
    Spark's non-ANSI bigint sum wraps where DuckDB promotes to HUGEINT,
    so overflow surfaces as a cross-engine divergence.

    Plan shape at 100 TB: ONE corpus scan — bigrams explode scan-side
    from the token array (a ``transform`` over the first n-1 positions;
    never a positional self-join of an exploded table, which would
    shuffle the corpus twice), then the ``(doc, p, w)`` aggregation
    map-side combines; the bigram vocabulary and the prefix table FOLD
    the CHECKPOINTED bf table (bounded by distinct-bigram count, not
    corpus size — checkpointed because exchange reuse does not
    deduplicate the fold branches, see :func:`surprisal_micro_fold`),
    and the scoring joins run on distinct doc-bigram pairs with AQE
    free to broadcast the vocabularies while they fit.

    Returns (id, n_bigrams, surprise_micro, surprise) for documents
    with at least two tokens.

    Eager: building this frame runs Spark jobs. The (doc, bigram) counts
    are ``localCheckpoint(eager=True)``-ed before it returns.
    """
    # __toks is referenced several times below (size + slice + the
    # lambda's positional lookup), which inhibits CollapseProject from
    # inlining the normalize/split chain into the per-element lambda.
    # Hash-spread by the unique id first so the tokenize runs parallel
    # (not inside the serial scan task) and the (id, p, w) groupBy
    # reuses the partitioning (r13, the bpe_doc_word_counts shape;
    # plain explode per its codegen note).
    exploded = (spread(df.select(F.col(id_col), F.col(text_col)),
                       by=id_col)
                .select(F.col(id_col), tokens(text_col).alias("__toks"))
                .select(F.col(id_col),
                        F.explode(F.expr(
                            "transform(slice(__toks, 1,"
                            " greatest(size(__toks) - 1, 0)),"
                            " (t, i) -> struct(t AS p, __toks[i + 1] AS w))"
                        )).alias("__bg"))
                .select(F.col(id_col), F.col("__bg.p").alias("p"),
                        F.col("__bg.w").alias("w"))
                # the explicit two-column null filter matches the null
                # filters the optimizer pushes into the join branches
                # (the ["p","w"] join pushes both, the "p" join only one)
                .filter(F.col("p").isNotNull() & F.col("w").isNotNull()))
    # checkpointed like surprisal_micro_fold's tf: exchange reuse does
    # NOT collapse the three consumers' scan subtrees (per-branch column
    # pruning de-canonicalizes them — a ×100 probe measured the
    # un-checkpointed fold at exactly 3× the single scan+explode), so
    # the (doc, bigram) counts materialize once and every fold reads
    # the bounded RDD
    bf = (exploded.groupBy(id_col, "p", "w")
          .agg(F.count(F.lit(1)).alias("tf"))
          # EAGER since r13: the bigram-vocabulary and prefix folds
          # materialize in separate jobs; lazy blocks raced (lifecycle
          # note at surprisal_micro_fold)
          .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY))
    bgv = bf.groupBy("p", "w").agg(F.sum("tf").alias("__cbg"))
    pre = bgv.groupBy("p").agg(F.sum("__cbg").alias("__cp"))
    return (bf.join(bgv, ["p", "w"]).join(pre, "p")
            .withColumn("__micro",
                        F.expr(f"(CAST({int(scale)} AS BIGINT) * __cp)"
                               " div __cbg"))
            .groupBy(id_col)
            .agg(F.sum("tf").alias("n_bigrams"),
                 F.sum(F.col("tf") * F.col("__micro")).alias("surprise_micro"))
            # integer 6-dp HALF-UP close, same .xx5-tie-proofing as the
            # unigram twin (see the comment there)
            .withColumn("__b", F.expr(f"CAST({int(scale)} AS BIGINT)"
                                      " * n_bigrams"))
            .withColumn("__r6", F.expr(
                "(surprise_micro div __b) * 1000000"
                f" + (2 * (surprise_micro % __b) * {_q6(scale)} + n_bigrams)"
                " div (2 * n_bigrams)"))
            .select(F.col(id_col), F.col("n_bigrams"), F.col("surprise_micro"),
                    (F.col("__r6").cast("double") / F.lit(1000000.0))
                    .alias("surprise")))


#: merge steps between eager vocabulary checkpoints in
#: :func:`bpe_train_merges` — each un-checkpointed step replays its
#: replace() chain inside the next pair-count job (cheap on the
#: vocabulary-bounded frame) instead of paying a materialization job
_BPE_CKPT_EVERY = 16


def bpe_train_merges(df: DataFrame, text_col: str = "text",
                     n_merges: int = 8, sep: str = "_",
                     parallelism: int | None = None) -> DataFrame:
    """First ``n_merges`` byte-pair-encoding merge rules learned from the
    corpus (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
    Rare Words with Subword Units" — the BPE tokenizer-training loop):
    repeatedly find the most frequent adjacent symbol pair in the word
    vocabulary and fuse it into a new symbol.

    Spark-first shape: the CORPUS is scanned exactly once, to build the
    word-frequency vocabulary (map-side-combining count). Every merge
    iteration then runs on the VOCABULARY alone — bounded by distinct
    words (~1M rows at 100 TB), not corpus size — exactly as the paper
    trains on word counts. Each iteration is one pair-count aggregate
    plus a single-ROW driver collect (the argmax pair; a bounded scalar
    per iteration, the same driver-loop discipline as
    ``dedup.connected_components``); the vocabulary rolls an eager
    localCheckpoint every ``_BPE_CKPT_EVERY`` steps, so an iteration
    replays at most that many vocabulary-sized replace() steps and the
    lineage stays bounded for large ``n_merges``.

    Words are held as DOUBLE-separator symbol strings (``__c__a__t__``;
    the default ``_`` can never occur inside a symbol — ``normalize``
    leaves only ``[a-z0-9]`` word chars). A merge of pair (l, r) is
    ``replace(sym, '_l__r_', '_lr_')``: the pattern consumes only the
    INNER half of each ``__`` boundary, so a match leaves the adjacent
    boundary's outer half for the next match — consecutive occurrences
    (``aaaa`` with pair (a, a)) all fuse in one left-to-right pass,
    exactly the paper's greedy merge order (``aaaa`` → ``aa``+``aa``,
    ``aaa`` → ``aa``+``a``). Spark's and DuckDB's ``replace`` both scan
    the ORIGINAL string left-to-right and continue after the consumed
    match, so the oracle mirror is exact including overlap cases.

    Pair counts weight by word frequency and count every adjacent
    position (overlaps included, matching the reference ``get_stats``);
    the argmax tie-breaks deterministically by (count DESC, left ASC,
    right ASC). Stops early if the vocabulary runs out of pairs.

    Returns one row per learned rule: (step, left_sym, right_sym,
    merged, pair_count).

    Eager: building this frame runs Spark jobs. Besides one ``collect``
    per merge, the vocabulary is ``localCheckpoint(eager=True)``-ed once
    up front and again every ``_BPE_CKPT_EVERY`` merges.
    """
    # the whole encoding rests on sep never occurring inside a symbol,
    # and sep is spliced into a regex replacement and SQL exprs — enforce
    # the precondition instead of assuming it
    _check_bpe_sep(sep)
    # tokenize AFTER the exchange (r13, guide §1.2): projected below it,
    # the whole normalize+split chain ran inside the repartition's map
    # task — serial on a one-file table — and the shuffle carried fat
    # token arrays through the sort-before-repartition. PLAIN explode:
    # on this Spark, InferFiltersFromGenerate only infers for attribute
    # generator inputs (verified in-plan), so the inline tokens() chain
    # draws no pushed-down size() filter — and an OUTER generate would
    # fall out of whole-stage codegen (measured 20x the tokenize CPU).
    words = (spread(df.select(F.col(text_col)), parallelism)
             .select(F.explode(tokens(text_col)).alias("__w"))
             .filter(F.col("__w") != ""))
    wc = words.groupBy("__w").agg(F.count(F.lit(1)).alias("wc"))
    return _bpe_train_from_word_counts(wc, n_merges, sep)


def bpe_train_merges_from_counts(wf: DataFrame, n_merges: int = 8,
                                 sep: str = "_") -> DataFrame:
    """:func:`bpe_train_merges` over a :func:`bpe_doc_word_counts` frame
    ``(id, __w, __c)`` instead of the raw corpus — the word-frequency
    vocabulary is the (doc, word) counts folded by word, an exact
    integer identity with the trainer's own corpus fold (count of
    occurrences == sum of per-document counts), so the learned rules
    are bit-identical. Lets a caller that trains AND encodes (t14/t16/
    t21, f13's encode stage) share ONE corpus tokenize scan: the encode
    pipeline already checkpoints the (doc, word) counts, and training's
    separate spread→tokenize→explode→count pass over the corpus was the
    single largest duplicated computation in those queries (r12, guide
    §1.2 step 1 / §2.4: remove passes outright).

    Eager: building this frame runs Spark jobs. Besides one ``collect``
    per merge, the vocabulary is ``localCheckpoint(eager=True)``-ed once
    up front and again every ``_BPE_CKPT_EVERY`` merges."""
    _check_bpe_sep(sep)
    wc = wf.groupBy("__w").agg(F.sum("__c").cast("bigint").alias("wc"))
    return _bpe_train_from_word_counts(wc, n_merges, sep)


def _bpe_train_from_word_counts(wc: DataFrame, n_merges: int,
                                sep: str) -> DataFrame:
    """The merge-training loop over a ``(__w, wc)`` word-frequency
    vocabulary — shared tail of :func:`bpe_train_merges` (corpus fold)
    and :func:`bpe_train_merges_from_counts` (doc-word-count fold)."""
    spark = wc.sparkSession
    sep2 = sep + sep
    vocab = (wc.select(F.concat(F.lit(sep2),
                                F.regexp_replace("__w", "(.)", "$1" + sep2))
                       .alias("sym"), "wc")
             .localCheckpoint(eager=True))
    out: list[tuple[int, str, str, str, int]] = []
    # r12 (guide §2.4 — remove jobs outright): the per-step EAGER
    # checkpoint was one extra Spark job per merge (2 jobs/step); a
    # replace() over the bounded vocabulary is far cheaper to REPLAY
    # than to materialize, so steps chain replaces over the last
    # checkpoint and only roll the checkpoint every _BPE_CKPT_EVERY
    # steps (lineage stays bounded for large n_merges). The replace
    # chain and each step's argmax are the same expressions on the same
    # logical vocabulary, so the learned rules are bit-identical.
    base = vocab
    chain = 0
    for step in range(1, n_merges + 1):
        # symbol array: split('__c__a__t__') -> ['', c, a, t, ''] ends dropped
        pairs = (vocab.select("wc", F.expr(
                     f"slice(split(sym, '{sep2}'), 2,"
                     f" size(split(sym, '{sep2}')) - 2)").alias("__a"))
                 # filter BEFORE the sequence: sequence(1, 0) is Spark's
                 # DESCENDING [1, 0], which would fabricate a reversed pair
                 .filter(F.expr("size(__a) >= 2"))
                 .select("wc", F.explode(F.expr(
                     "transform(sequence(1, size(__a) - 1),"
                     " i -> struct(__a[i - 1] AS l, __a[i] AS r))"))
                     .alias("__p"))
                 .select("wc", F.col("__p.l").alias("l"),
                         F.col("__p.r").alias("r")))
        best = (pairs.groupBy("l", "r").agg(F.sum("wc").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "l", "r").limit(1).collect())
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        out.append((step, l, r, l + r, cnt))
        vocab = vocab.select(
            F.replace("sym", F.lit(f"{sep}{l}{sep2}{r}{sep}"),
                      F.lit(f"{sep}{l}{r}{sep}")).alias("sym"), "wc")
        chain += 1
        if chain >= _BPE_CKPT_EVERY:
            prev = base
            vocab = vocab.localCheckpoint(eager=True)
            # the new checkpoint has materialized — release the prior
            # one's blocks, or vocabulary copies pile up in the block
            # manager for the life of the session
            release_checkpoint(prev)
            base = vocab
            chain = 0
    # the rules are fully collected — the last vocabulary copy is dead too
    release_checkpoint(base)
    # r12 (guide §4): the trained table is bounded model state consumed
    # by collects and model saves — as a VALUES LocalRelation those run
    # zero tasks, where createDataFrame's 32-slice pickled RDD cost a
    # 32-Python-task job per action (0.4-3 s each in the bench)
    return values_frame(
        spark, out, "step bigint, left_sym string, right_sym string,"
                    " merged string, pair_count bigint")


def _check_bpe_sep(sep: str) -> None:
    if len(sep) != 1 or sep.isalnum() or sep in "'\\$\"" \
            or sep in ".^|?*+()[]{}-&<>=!":
        raise ValueError(
            f"bpe sep must be a single non-alphanumeric, non-quote, "
            f"non-regex-metacharacter (got {sep!r}): symbols are "
            f"[a-z0-9]+ and the separator is interpolated into "
            f"regex/SQL literals AND used as a split() regex pattern")


def _check_bpe_merges(merges: Sequence[tuple[str, str]]) -> None:
    """Merge-rule sides must be symbol strings (``[a-z0-9]+``) — anything
    else (separators, whitespace, regex metacharacters) would corrupt the
    double-separator encoding both engines splice the rules into."""
    import re

    bad = [(l, r) for l, r in merges
           if not (re.fullmatch(r"[a-z0-9]+", l)
                   and re.fullmatch(r"[a-z0-9]+", r))]
    if bad:
        raise ValueError(
            f"bpe merge rules must be [a-z0-9]+ symbol pairs, got {bad[:3]}")


def bpe_doc_word_counts(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        parallelism: int | None = None) -> DataFrame:
    """The ONE corpus-sized computation of the encode pipeline: a
    map-side-combining ``(doc, word) -> count`` aggregate, returned
    ``localCheckpoint``-ed so the vocabulary fold and the per-document
    fold both read a single computed pipeline (the d10 discipline — the
    t10-style exchange-reuse fold does NOT survive here because column
    pruning collapses a count-free vocabulary fold into a plain distinct
    with its own scan). Columns: (id_col, __w, __c).

    Eager: building this frame runs Spark jobs. The (doc, word) counts
    are ``localCheckpoint(eager=True)``-ed before it returns."""
    # HASH-spread by the id and tokenize AFTER the exchange (r13, guide
    # §1.2/§2.4/§2.5): the old round-robin shape tokenized serially in the
    # map task, sorted fat token arrays (sortBeforeRepartition), and then
    # paid a second full exchange for the (doc, word) groupBy. Hash
    # partitioning by the unique id is sort-free and — because (id, __w)
    # is a superset of the partitioning key — the groupBy below reuses it:
    # ONE exchange total, tokenize parallel (plain explode — see the
    # bpe_train_merges codegen note). EAGER checkpoint: the returned
    # frame's consumers materialize in SEPARATE jobs (broadcast builds,
    # AQE stages) and a lazy checkpoint lets them race-recompute the
    # tokenize before blocks register (measured as duplicated corpus CPU
    # in every train-and-encode query).
    return (spread(df.select(F.col(id_col), F.col(text_col)), parallelism,
                   by=id_col)
            .select(F.col(id_col),
                    F.explode(tokens(text_col)).alias("__w"))
            .filter(F.col("__w") != "")
            .groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__c"))
            # DISK_ONLY: this is the same doc-keyed ~100M-row shape whose
            # default-storage checkpoint OOM'd an 8g heap at the r8 ×100
            # probe (surprisal_micro_fold's tf); disk blocks are
            # shuffle-class IO and strictly cheaper than re-tokenizing
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY))


def bpe_vocab_encode(vocab: DataFrame, merges: Sequence[tuple[str, str]],
                     sep: str = "_", engine: str = "expr") -> DataFrame:
    """Encode a DISTINCT-word vocabulary frame (one ``__w`` column) with
    the trained merge table, returning ``(__w, __len, __nsym)`` — the
    bounded model-application stage both :func:`bpe_encode` engines
    share, exposed so a SAVED tokenizer can be applied to new corpora
    and so the two engines can be equality-gated against each other.

    ``engine='expr'``: one scan-side Catalyst ``replace`` per rule —
    whole-stage codegen, no Python — for merge tables that fit a codegen
    expression tree (guarded at 256 rules).

    ``engine='arrow'``: the PRODUCTION form for tokenizer-scale tables
    (30k–100k merges) — an Arrow-batched ``mapInPandas`` stage over the
    same vocabulary frame. Each batch joins its words into one
    newline-separated blob (symbols are ``[a-z0-9]`` and ``sep`` is
    enforced non-alphanumeric, so ``\\n`` can never occur inside a
    symbol string) and applies each rule as a single C-speed
    ``str.replace`` pass over the whole blob — O(merges × batch_chars)
    with no per-word Python loop per rule. Python's ``str.replace``,
    Spark's ``replace`` and DuckDB's ``replace`` all scan left-to-right
    and continue AFTER the consumed match, so the three engines agree
    bit-for-bit including overlapping-occurrence cases — proven
    in-query by t16's equality gate.

    Every corpus-sized part of the plan is identical under either
    engine; only this vocabulary-bounded stage swaps.
    """
    _check_bpe_sep(sep)
    _check_bpe_merges(merges)
    sep2 = sep + sep
    if engine == "expr":
        if len(merges) > 256:
            raise ValueError(
                f"{len(merges)} merges exceed the expression-chain form's "
                "codegen budget (256); use engine='arrow' (the Arrow-"
                "batched pandas stage over the same vocabulary frame) for "
                "tokenizer-scale merge tables")
        sym = F.concat(F.lit(sep2),
                       F.regexp_replace("__w", "(.)", "$1" + sep2))
        for left, right in merges:
            sym = F.replace(sym, F.lit(f"{sep}{left}{sep2}{right}{sep}"),
                            F.lit(f"{sep}{left}{right}{sep}"))
        return vocab.select("__w", F.length("__w").alias("__len"),
                            (F.size(F.split(sym, sep2)) - 2).alias("__nsym"))
    if engine != "arrow":
        raise ValueError(f"unknown bpe engine {engine!r}; "
                         "expected 'expr' or 'arrow'")
    rules = [(f"{sep}{left}{sep2}{right}{sep}", f"{sep}{left}{right}{sep}")
             for left, right in merges]

    def encode_batches(batches):
        import pandas as pd

        for pdf in batches:
            words = [w if isinstance(w, str) else None
                     for w in pdf["__w"].tolist()]
            # the blob encoding rests on '\n' never occurring inside a
            # word and sep never occurring inside a symbol — an external
            # saved-tokenizer vocabulary gets the same loud precondition
            # sep/merges get (a newline word would silently shift every
            # later word's count; a sep-bearing word corrupts BOTH
            # engines' double-separator encoding)
            bad = [w for w in words
                   if w is not None and ("\n" in w or sep in w)]
            if bad:
                raise ValueError(
                    f"bpe vocabulary words must not contain newlines or "
                    f"the separator {sep!r}, got {bad[:3]}")
            # '' encodes to zero symbols (what the expr engine's
            # '__'-only sym yields); keep it out of the blob, whose
            # segment arithmetic assumes non-empty words
            live = [w for w in words if w]
            if not live:
                yield pd.DataFrame(
                    {"__w": pd.Series(words, dtype="object"),
                     "__len": pd.Series(
                         [None if w is None else 0 for w in words],
                         dtype="Int32"),
                     "__nsym": pd.Series(
                         [None if w is None else 0 for w in words],
                         dtype="Int32")})
                continue
            blob = "\n".join(sep2 + sep2.join(w) + sep2 for w in live)
            for pat, rep in rules:
                blob = blob.replace(pat, rep)
            it = iter(len(s.split(sep2)) - 2 for s in blob.split("\n"))
            # NULL words null-propagate to NULL rows — bit-for-bit what
            # the expr engine's Catalyst null semantics produce
            nsym = [None if w is None else (0 if w == "" else next(it))
                    for w in words]
            yield pd.DataFrame(
                {"__w": pd.Series(words, dtype="object"),
                 "__len": pd.Series(
                     [len(w) if w is not None else None for w in words],
                     dtype="Int32"),
                 "__nsym": pd.Series(nsym, dtype="Int32")})

    return vocab.select("__w").mapInPandas(
        encode_batches, "__w string, __len int, __nsym int")


def bpe_fold(wf: DataFrame, enc: DataFrame,
             id_col: str = "doc_id",
             broadcast_vocab: bool = True) -> DataFrame:
    """Carry per-word encoded lengths back over the (doc, word) counts
    and close the per-document statistics — the shared tail of both
    :func:`bpe_encode` engines. One vocabulary-sized equi-join plus a
    map-side-combining per-document aggregate.

    The vocabulary side BROADCASTS by default — by contract, not by
    optimizer estimate: the r9 ×100 probe (1M docs, ~1M-word
    vocabulary, 30k rules) caught AQE sizing the mapInPandas-produced
    ``enc`` over the broadcast threshold and degrading this join to a
    SortMergeJoin, which sorted the CORPUS-scaled (doc, word) frame —
    28 GB of sort spill for a join whose small side is bounded model
    state (an encoded tokenizer vocabulary: ~30 MB per million words).
    At 100 TB that sort is the difference between a map-side join and
    shuffling the corpus twice. ``broadcast_vocab=False`` restores the
    estimate-driven plan for the degenerate no-pre-tokenization case
    where the "vocabulary" is not actually bounded."""
    if broadcast_vocab:
        enc = F.broadcast(enc)
    return (wf.join(enc, "__w")
            .groupBy(id_col)
            .agg(F.sum("__c").alias("n_words"),
                 F.sum(F.col("__c") * F.col("__len")).alias("n_chars"),
                 F.sum(F.col("__c") * F.col("__nsym")).alias("n_bpe_tokens"))
            # exact 6-dp half-up ratio (n_bpe_tokens <= n_chars, so no
            # whole part): same .xx5-tie-proof close as winnow sim
            .select(F.col(id_col), F.col("n_words"), F.col("n_chars"),
                    F.col("n_bpe_tokens"),
                    (F.expr("(2000000 * n_bpe_tokens + n_chars)"
                            " div (2 * n_chars)").cast("double")
                     / F.lit(1000000.0)).alias("compression")))


def bpe_encode(df: DataFrame, merges: Sequence[tuple[str, str]],
               text_col: str = "text", id_col: str = "doc_id",
               sep: str = "_",
               parallelism: int | None = None,
               engine: str = "expr") -> DataFrame:
    """Apply trained BPE merge rules to the corpus — the tokenizer
    APPLICATION step completing :func:`bpe_train_merges`'s training step
    (Sennrich et al. 2016 §3.2: "we apply the learned operations").

    Semantics exactly mirror training's vocabulary rewrite: each merge
    rule rewrites every occurrence via one left-to-right non-overlapping
    ``replace`` over the double-separator symbol string, rules applied
    strictly in training order, none revisited. (This is the sequential-
    replace definition, not the re-scan-for-minimum-rank loop some
    encoders use; the two can differ on adjacencies a later merge
    creates, so the engine pins the one that matches its own training
    rewrite bit-for-bit.)

    Spark-first shape — the corpus pipeline is computed ONCE and the
    replace chain never touches a corpus-sized relation: the scan feeds
    one map-side-combining ``(doc, word)`` count which is
    ``localCheckpoint``-ed (the d10 discipline — the t10-style exchange-
    reuse fold does NOT survive here because column pruning collapses a
    count-free vocabulary fold into a plain distinct with its own scan);
    the DISTINCT-word vocabulary folds the checkpointed counts; the
    merge chain — a scan-side Catalyst ``replace`` per rule, whole-stage
    codegen, no UDFs — runs over the vocabulary only; and one equi-join
    (AQE broadcasts the encoded vocabulary while it fits) carries each
    word's encoded length back to the doc-word counts for the per-
    document fold. Encoding cost is O(vocab × merges), independent of
    how often each word repeats in the corpus.

    ``merges`` is the trained rule table — bounded model state, applied
    in order. ``engine`` picks the vocabulary-stage form (see
    :func:`bpe_vocab_encode`): ``'expr'`` (default) is the Catalyst
    replace chain, guarded at 256 rules; ``'arrow'`` is the Arrow-
    batched pandas stage for tokenizer-scale tables — every corpus-sized
    part of the plan is identical either way.

    Returns per document: (id, n_words, n_chars, n_bpe_tokens,
    compression) where n_chars is the pre-merge symbol count (one per
    character), n_bpe_tokens the post-merge count, and compression the
    exact 6-dp half-up ratio n_bpe_tokens/n_chars. Documents with no
    tokens are absent (same contract as unigram_surprise).

    Eager: building this frame runs Spark jobs. The (doc, word) counts
    are ``localCheckpoint(eager=True)``-ed in
    :func:`bpe_doc_word_counts` before it returns.
    """
    wf = bpe_doc_word_counts(df, text_col, id_col, parallelism)
    # the vocabulary folds the CHECKPOINTED doc-word aggregate, so both
    # join inputs read one computed pipeline (zero re-scans); the merge
    # chain runs on these vocabulary rows only
    enc = bpe_vocab_encode(wf.select("__w").distinct(), merges, sep, engine)
    return bpe_fold(wf, enc, id_col)


def unigram_word_freqs(df: DataFrame, text_col: str = "text",
                       max_word_len: int = 12,
                       parallelism: int | None = None) -> DataFrame:
    """(word, freq) corpus word frequencies for the unigram-LM
    tokenizer — its ONE corpus-sized computation, map-side-combining
    and ``localCheckpoint``-ed because every downstream
    stage (piece seeding, both Viterbi passes) folds it: the d10/t14
    discipline, one scan no matter how many consumers.

    Words longer than ``max_word_len`` are DROPPED, loudly bounding the
    DP depth: SentencePiece's own trainer caps candidate length and
    expects pre-tokenization to have split pathological blobs upstream
    (``--max_sentencepiece_length``, Kudo & Richardson 2018 §3); an
    oracle mirroring the DP must unroll exactly ``max_word_len``
    levels, so the cap is part of the operator's contract, not an
    implementation detail.

    Eager: building this frame runs Spark jobs. The (word, freq) table
    is ``localCheckpoint(eager=True)``-ed before it returns."""
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    # tokenize after the exchange (the bpe_train_merges shape: serial
    # map-task fix, plain explode per its codegen note); EAGER checkpoint
    # so the seeding/Viterbi consumers' separate jobs cannot
    # race-recompute the corpus fold
    return (spread(df.select(F.col(text_col)), parallelism)
            .select(F.explode(tokens(text_col)).alias("word"))
            .filter((F.col("word") != "")
                    & (F.length("word") <= int(max_word_len)))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
            .localCheckpoint(eager=True))


def unigram_word_freqs_from_counts(wf: DataFrame,
                                   max_word_len: int = 12) -> DataFrame:
    """(word, freq) vocabulary fold of a :func:`bpe_doc_word_counts`
    frame — :func:`unigram_word_freqs`'s output WITHOUT a second corpus
    scan (freq = total occurrences = the sum of per-doc counts), for
    pipelines that already hold the checkpointed (doc, word) counts and
    feed both a tokenizer and a per-document fold. This is the ONE
    definition of the apply-side word-length contract (the t20/t21
    persisted-model folds share it), so the trainer's vocabulary and
    the apply join's keys cannot silently diverge."""
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    return (wf.filter(F.length("__w") <= int(max_word_len))
            .groupBy("__w")
            .agg(F.sum("__c").cast("bigint").alias("freq"))
            .select(F.col("__w").alias("word"), "freq")
            .localCheckpoint(eager=False))


def _unigram_cost(counts: DataFrame, scale: int) -> DataFrame:
    """(piece, count, score_micro) with the engine's exact-integer
    inverse-frequency cost ``(scale · N) div count`` — the
    :func:`unigram_surprise` surrogate for ``-log p(piece)``: additive
    over a segmentation, exactly representable in both engines, and
    monotone in the piece's improbability.

    Int64 envelope — ENFORCED, not advisory (r9 advice): a single
    piece cost reaches ``scale · N`` (count = 1), and the Viterbi DP's
    unreachable-position sentinel is 2^62, so ``scale · N`` must stay
    below 2^61: (1) any PARTIAL path sum the DP ever forms is then
    < 2^62 + 2^61 < 2^63 (predecessors with ``c ≥ 2^62`` are filtered
    before extension), so int64 wraparound is impossible; (2) a NULL
    Viterbi row then unambiguously means out-of-inventory except for
    the measure-zero case of a best path of ≥ 3 near-max (count ≲ 2)
    pieces summing past 2^62 — which call sites (t20/t21 ``n_oov``)
    may count as OOV. At the default scale the bound is N ≤ ~2.3e12
    piece occurrences; past that, drop ``scale`` (ordering survives,
    granularity coarsens). The check rides the cost expression itself
    (``raise_error``), so it runs wherever the frame is computed —
    no eager driver action."""
    total = counts.agg(F.sum("count").alias("__n"))
    n_max = (1 << 61) // int(scale)
    return (counts.crossJoin(F.broadcast(total))
            .select("piece", "count",
                    F.expr(
                        f"CASE WHEN __n > {n_max} THEN CAST(raise_error("
                        f"'unigram cost envelope exceeded: scale*N must "
                        f"stay below 2^61 (N > {n_max} at scale="
                        f"{int(scale)}); lower scale') AS BIGINT) "
                        f"ELSE (CAST({int(scale)} AS BIGINT) * __n)"
                        " div count END").alias("score_micro")))


def unigram_seed_pieces(words: DataFrame, max_piece_len: int = 4,
                        scale: int = 1_000_000) -> DataFrame:
    """Seed piece inventory for unigram-LM training (Kudo 2018 §3.2
    seeds from frequent substrings): EVERY substring of length
    1..``max_piece_len`` of every corpus word, counted with multiplicity
    and weighted by word frequency — one row-local nested transform
    (no join, no shuffle beyond the piece aggregate), vocabulary-bounded
    since it folds the (word, freq) table, never the corpus. Single
    characters are always present by construction, so every word is
    segmentable under the seed model.

    Returns (piece, count, score_micro); cost semantics in
    :func:`_unigram_cost`."""
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    L = int(max_piece_len)
    sub = words.select(F.col("freq"), F.explode(F.expr(
        f"flatten(transform(sequence(1, length(word)), i ->"
        f" transform(sequence(1, least({L}, length(word) - i + 1)),"
        f" l -> substring(word, i, l))))")).alias("piece"))
    counts = (sub.groupBy("piece")
              .agg(F.sum("freq").cast("bigint").alias("count")))
    return _unigram_cost(counts, scale)


def unigram_viterbi(words: DataFrame, pieces: DataFrame,
                    max_piece_len: int = 4) -> DataFrame:
    """Exact Viterbi segmentation of each word under a piece-cost model
    — the apply step of the unigram-LM tokenizer (Kudo 2018 §2 decodes
    with Viterbi; here the additive cost is the exact-integer
    inverse-frequency surrogate, see :func:`_unigram_cost`), entirely
    as Catalyst expressions: per word, candidate edges (start, length,
    piece) come from one row-local nested transform, the piece-cost
    lookup is ONE equi-join against the bounded model, and the DP runs
    inside a single ``aggregate`` over positions — O(len² ·
    max_piece_len) per word, row-local, no UDF, no per-word shuffle.

    Tie-breaking is total and engine-portable: at each position the
    chosen edge minimizes (total cost, piece count, longer-piece-first)
    — ``array_min`` over (c, k, -ln) structs — so the backpointer walk
    reconstructs exactly one canonical segmentation, the same one an
    oracle's level-unrolled argmin produces.

    Scale shape: everything folds the vocabulary-bounded (word, freq)
    frame; at 100 TB the corpus contributes only through
    :func:`unigram_word_freqs`'s single checkpointed scan.

    A word the model cannot segment (a character absent from the piece
    inventory — impossible on the training corpus, whose single chars
    :func:`unigram_seed_pieces` always includes and
    :func:`unigram_lm_em_step` never prunes, but possible when a
    PERSISTED model is applied to unseen data) yields NULL
    ``n_pieces``/``cost_micro``/``seg`` — an explicit unscorable
    marker, never a partial segmentation; callers gate on
    ``seg IS NULL`` (t19's in-query check does).

    Returns (word, freq, wlen, n_pieces, cost_micro, seg) with ``seg``
    the space-joined piece sequence."""
    L = int(max_piece_len)
    cand = (words.select(
                "word", "freq",
                F.explode(F.expr(
                    f"flatten(transform(sequence(1, length(word)), i ->"
                    f" transform(sequence(1, least({L},"
                    f" length(word) - i + 1)),"
                    f" l -> struct(i - 1 AS st, l AS ln,"
                    f" substring(word, i, l) AS piece))))")).alias("e"))
            .select("word", "freq", F.col("e.st").alias("st"),
                    F.col("e.ln").alias("ln"), F.col("e.piece").alias("piece")))
    edges = cand.join(pieces.select(F.col("piece"),
                                    F.col("score_micro").alias("cost")),
                      "piece")
    earr = (edges.groupBy("word", "freq")
            .agg(F.collect_list(F.struct("st", "ln", "cost")).alias("__es")))
    # a word with ZERO in-model candidate pieces (every character
    # outside a persisted model's inventory) must surface as the
    # documented NULL row, not vanish — the inner piece join dropped
    # it from earr, so re-anchor on the input words with an empty
    # edge set (the DP then marks every position unreachable)
    earr = (words.select("word", "freq")
            .join(earr, ["word", "freq"], "left")
            .withColumn("__es", F.coalesce(F.col("__es"), F.expr(
                "CAST(array() AS"
                " ARRAY<STRUCT<st: INT, ln: INT, cost: BIGINT>>)"))))
    # forward DP with backpointers: acc[j+1] = best (cost, k, bp) at
    # position j; the array_min feeds a one-element transform so the
    # min is computed ONCE per position (module rule #1). An
    # UNREACHABLE position (no in-model piece ends there) carries an
    # explicit 2^62 cost sentinel, NOT a null: inside aggregate's
    # accumulator the array element type is non-nullable (the init
    # literal's type), and Spark silently coerces null struct fields
    # to 0 there (measured) — which would read as a FREE reach. Edges
    # LEAVING an unreachable position are filtered out (acc.c < big),
    # so the sentinel never enters a sum — without that guard,
    # sentinel + a near-envelope piece cost (up to scale·N ~ 9.2e18,
    # see _unigram_cost) wraps int64 negative and a wrapped path would
    # WIN the array_min, returning garbage instead of NULL. Dropping
    # those edges is also exactly the oracle's semantics: its DP joins
    # only REACHED predecessor states.
    big = 1 << 62
    dp = earr.withColumn("__dp", F.expr(
        "aggregate(sequence(1, length(word)),"
        " array(struct(CAST(0 AS BIGINT) AS c, 0 AS k, 0 AS bp)),"
        " (acc, i) -> concat(acc, transform(array(coalesce(array_min("
        "   transform(filter(__es, e -> e.st + e.ln = i"
        f"     AND element_at(acc, e.st + 1).c < {big}),"
        "     e -> struct(element_at(acc, e.st + 1).c + e.cost AS c,"
        "                 element_at(acc, e.st + 1).k + 1 AS k,"
        "                 -e.ln AS nl))),"
        f"   struct(CAST({big} AS BIGINT) AS c, 0 AS k, 0 AS nl))),"
        "   m -> struct(m.c AS c, m.k AS k, -m.nl AS bp))))"))
    # unreachable words (a character absent from the model — possible
    # when a PERSISTED model is applied to unseen data) get NULL
    # cost/k/seg, never a partial segmentation: the final-position
    # guard below keeps the backpointer walk from emitting garbage
    walk = dp.withColumn("__seg", F.expr(
        f"IF(element_at(__dp, length(word) + 1).c >= {big},"
        " CAST(NULL AS STRING),"
        " aggregate(sequence(1, length(word)),"
        " struct(length(word) AS pos, CAST(array() AS ARRAY<STRING>) AS s),"
        " (a, x) -> IF(a.pos > 0,"
        "   struct(a.pos - element_at(__dp, a.pos + 1).bp AS pos,"
        "          concat(array(substring(word,"
        "            a.pos - element_at(__dp, a.pos + 1).bp + 1,"
        "            element_at(__dp, a.pos + 1).bp)), a.s) AS s),"
        "   a),"
        " a -> array_join(a.s, ' ')))"))
    return walk.select(
        "word", "freq", F.length("word").cast("int").alias("wlen"),
        F.expr(f"IF(element_at(__dp, length(word) + 1).c >= {big}, NULL,"
               " element_at(__dp, length(word) + 1).k)").alias("n_pieces"),
        F.expr(f"IF(element_at(__dp, length(word) + 1).c >= {big}, NULL,"
               " element_at(__dp, length(word) + 1).c)").alias("cost_micro"),
        F.col("__seg").alias("seg"))


def unigram_lm_em_step(words: DataFrame, pieces: DataFrame,
                       max_piece_len: int = 4,
                       scale: int = 1_000_000) -> DataFrame:
    """One hard-EM iteration of unigram-LM training (SentencePiece's
    Viterbi-mode E-step, Kudo 2018 §3.2 step 3): segment every word
    under the current model, count piece usage weighted by word
    frequency, and re-score. Pieces that went UNUSED are pruned —
    except single characters, which survive unconditionally so the
    model always segments anything its alphabet covers (SentencePiece
    never prunes the character inventory). Counts are add-one smoothed
    over the kept set, keeping every cost finite and both engines in
    exact integers.

    Returns the updated (piece, count, score_micro) model — the
    ``unigram_lm`` kind in ``store.models.MODEL_KINDS``."""
    seg = unigram_viterbi(words, pieces, max_piece_len)
    used = (seg.select(F.col("freq"),
                       F.explode(F.split("seg", " ")).alias("piece"))
            .groupBy("piece").agg(F.sum("freq").cast("bigint").alias("__used")))
    kept = (pieces.select("piece").join(used, "piece", "left")
            .filter(F.col("__used").isNotNull() | (F.length("piece") == 1))
            .select("piece",
                    (F.coalesce(F.col("__used"), F.lit(0)).cast("bigint")
                     + F.lit(1)).alias("count")))
    return _unigram_cost(kept, scale)


def unigram_lm_train(df: DataFrame, text_col: str = "text",
                     max_piece_len: int = 4, max_word_len: int = 12,
                     iters: int = 1,
                     scale: int = 1_000_000) -> DataFrame:
    """Seed + ``iters`` hard-EM iterations — the train entry point
    whose output persists as the ``unigram_lm`` model kind. One corpus
    scan total (the word-frequency fold); every iteration is
    vocabulary-bounded."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    words = unigram_word_freqs(df, text_col, max_word_len)
    model = unigram_seed_pieces(words, max_piece_len, scale)
    for _ in range(iters):
        model = unigram_lm_em_step(words, model, max_piece_len, scale)
    return model


def _close_scores(df: DataFrame, scale: int) -> DataFrame:
    """logit/score/pred columns from an aggregated (…, n_tokens, __dot)
    frame — the ONE definition of the mean-token-weight logit and
    hard-sigmoid close, shared by the inline classifier and the
    persisted-model apply path (the _weights_from_vocab discipline
    applied to the scoring half), so a saved model's scores can never
    drift from the inline trainer's."""
    return (df.withColumn("logit_micro", F.expr("__dot div n_tokens"))
            .withColumn("score_micro", F.least(
                F.lit(int(scale)).cast("long"),
                F.expr(f"(logit_micro + {int(scale)}) div 4")))
            .withColumn("pred", F.col("score_micro") > int(scale) // 2))


def linear_token_classifier(df: DataFrame, label: Column, train: Column,
                            text_col: str = "text", id_col: str = "doc_id",
                            scale: int = 1_000_000) -> DataFrame:
    """Model-based document classifier in the fastText supervised shape
    (Joulin et al. 2017, "Bag of Tricks for Efficient Text
    Classification"): a document's score is a LINEAR function of its
    bag-of-words — the mean of per-token weights — squashed through a
    hard sigmoid. The curation stage CCNet/DataComp pipelines run as
    "quality classifier" is exactly this: a bounded per-token weight
    table applied scan-side to every document.

    The weight table is TRAINED here, on the rows selected by ``train``
    (a labeled split), as add-one-smoothed count ratios in exact integer
    micro-units — the naive-Bayes-flavored linear weights fastText's
    softmax reduces to for one output class::

        w(t) = min(1e6·scale,
                   scale · (c_pos(t)+1)·(N_neg+V) / ((c_neg+1)·(N_pos+V)))

    computed entirely in DECIMAL(38,0) (the bm25_topk 128-bit-lane
    discipline — unlike dsir, the ratio here is NOT bounded by 1: a
    positives-only term's numerator is ``scale·c_pos·N_neg``, which
    wraps int64 within the advertised corpus scale) and capped at ratio
    1e6 INSIDE the decimal lane (``least(cap·DEN, NUM) div DEN``) so the
    quotient fits the BIGINT it leaves the lane in — a ratio beyond a
    million-to-one carries no additional evidence. The int64 envelope on
    the per-document sum is then ``n_tokens·cap < 2^63``: ~9.2M
    in-vocabulary tokens per DOCUMENT, independent of corpus size. A
    weight above ``scale`` votes positive. Per scored document::

        logit_micro = (Σ_t tf·w(t)) div n_tokens      -- mean token weight
        score_micro = least(scale, (logit_micro + scale) div 4)

    — the hard sigmoid ``clamp(x/4 + ½, 0, 1)`` with x centered at
    ratio 1.0, in micro-units; its numerator is provably non-negative
    (all weights are), so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree. The proper sigmoid is monotone in the logit,
    so thresholding at ``score_micro > scale/2`` is thresholding the
    real model at probability ½ (exact up to the div's sub-micro
    truncation: the cut lands at logit ratio 1 + 4e-6 instead of 1) —
    no transcendental float enters the pipeline. Out-of-vocabulary tokens are dropped (a production scorer
    ships its vocabulary; unseen tokens carry no weight), and
    ``n_tokens`` counts in-vocabulary tokens.

    Plan shape at 100 TB: ONE corpus scan feeds the ``(doc, term)``
    count, which is ``localCheckpoint``-ed: the train/apply split
    filters push BELOW the aggregate (the split flag is a grouping
    column), so the t10-style exchange-reuse fold would de-canonicalize
    into two full scans — the d10 checkpoint discipline pins one
    computed pipeline instead. The weight table folds the checkpointed
    counts restricted to the training split (bounded by vocabulary
    size); the weight expression is folded ONCE on that vocabulary frame
    (totals broadcast into it), so the MATERIALIZED ``(term, weight)``
    table — the saved-model artifact a production scorer reuses — is
    what the scoring join ships: one BIGINT per term, the DECIMAL(38,0)
    lane never touching a corpus-sized row. Scoring is one equi-join of
    the held-out counts against that table (AQE broadcasts it while it
    fits).

    Returns, for rows NOT in the training split: (id, n_tokens,
    logit_micro, score_micro, pred, label).

    Eager: building this frame runs Spark jobs. The (doc, term) counts
    are ``localCheckpoint(eager=True)``-ed before it returns.
    """
    # hash-spread by the unique id + tokenize post-exchange (r13): the
    # bpe_doc_word_counts shape — parallel tokenize, the (id, ...)
    # groupBy reuses the partitioning, plain explode per its codegen note
    base = (spread(df.select(F.col(id_col), label.alias("__y"),
                             train.alias("__tr"), F.col(text_col)),
                   by=id_col)
            .select(F.col(id_col), F.col("__y"), F.col("__tr"),
                    F.explode(tokens(text_col)).alias("term"))
            .filter(F.col("term").isNotNull()))
    tf = (base.groupBy(id_col, "__y", "__tr", "term")
          .agg(F.count(F.lit(1)).alias("tf"))
          # DISK_ONLY: doc-keyed corpus-scaled counts, the same shape
          # whose default-storage checkpoint OOM'd at the r8 ×100 probe.
          # EAGER since r13 (the surprisal_micro_fold race note)
          .localCheckpoint(eager=True,
                           storageLevel=StorageLevel.DISK_ONLY))
    vocab = (tf.filter(F.col("__tr"))
             .groupBy("term")
             .agg(F.sum(F.when(F.col("__y"), F.col("tf")).otherwise(0))
                  .cast("bigint").alias("__cpos"),
                  F.sum(F.when(F.col("__y"), 0).otherwise(F.col("tf")))
                  .cast("bigint").alias("__cneg")))
    # the weight fold happens HERE, on the vocabulary-bounded frame —
    # the scoring join below ships the finished BIGINT, and this frame
    # is the reusable saved-model table (token_weight_table persists
    # exactly this fold through store.models.save_model)
    weights = (_weights_from_vocab(vocab, scale)
               .withColumnRenamed("weight_micro", "__w"))
    return (tf.filter(~F.col("__tr"))
            .join(weights, "term")
            .groupBy(id_col)
            .agg(F.first("__y").alias("__label"),
                 F.sum("tf").alias("n_tokens"),
                 F.sum(F.col("tf") * F.col("__w")).alias("__dot"))
            .transform(lambda d: _close_scores(d, scale))
            .select(F.col(id_col), F.col("n_tokens"),
                    F.col("logit_micro"), F.col("score_micro"),
                    F.col("pred"),
                    F.col("__label").alias("label")))


def _weights_from_vocab(vocab: DataFrame, scale: int) -> DataFrame:
    """(term, weight_micro) from a (term, __cpos, __cneg) vocabulary
    frame — the ONE definition of the add-one-smoothed count-ratio
    weight (the DECIMAL(38,0) lane :func:`linear_token_classifier`
    documents), shared by the in-query trainer and the standalone
    :func:`token_weight_table` so a persisted model can never drift
    from the inline one. Totals broadcast as a single row; everything
    is vocabulary-bounded."""
    totals = vocab.agg(F.sum("__cpos").alias("__npos"),
                       F.sum("__cneg").alias("__nneg"),
                       F.count(F.lit(1)).alias("__v"))
    return (vocab.crossJoin(F.broadcast(totals))
            .select("term", F.expr(
                f"CAST(least(CAST({1_000_000 * int(scale)} AS"
                " DECIMAL(38,0)) * (__cneg + 1) * (__npos + __v),"
                f" CAST({int(scale)} AS DECIMAL(38,0))"
                " * (__cpos + 1) * (__nneg + __v))"
                " div (CAST(__cneg + 1 AS DECIMAL(38,0))"
                " * (__npos + __v)) AS BIGINT)").alias("weight_micro")))


def token_weight_table(df: DataFrame, label: Column,
                       train: Column | None = None,
                       text_col: str = "text",
                       scale: int = 1_000_000) -> DataFrame:
    """Standalone trainer for the fastText-style (term, weight_micro)
    model table — :func:`linear_token_classifier`'s weight fold without
    the inline scoring, shaped for persistence: the returned frame is
    exactly what ``store.models.save_model(kind="token_weights")``
    writes and :func:`apply_token_classifier` reuses on NEW data, the
    train-once / apply-forever split the in-query classifier cannot
    give.

    ``train`` (optional) restricts training rows; it is applied as a
    scan-side filter BEFORE the explode, so at 100 TB the shuffle only
    ever carries the labeled split's tokens. Weights are identical to
    the inline trainer's by construction (shared
    :func:`_weights_from_vocab` fold; the per-term totals are the same
    whether counted directly or summed over per-doc counts).

    Plan shape: one scan → explode → map-side-combining (term, label)
    count (vocabulary-keyed, the smallest aggregate this data admits)
    → the broadcast-totals weight fold. No checkpoint needed — there
    is exactly one consumer per stage."""
    base = df.filter(train) if train is not None else df
    # round-robin spread (no unique key survives the projection) so the
    # tokenize runs parallel; plain explode per the bpe_train_merges
    # codegen note
    tok = (spread(base.select(label.alias("__y"), F.col(text_col)))
           .select(F.col("__y"),
                   F.explode(tokens(text_col)).alias("term"))
           .filter(F.col("term").isNotNull()))
    vocab = (tok.groupBy("term")
             .agg(F.sum(F.when(F.col("__y"), 1).otherwise(0))
                  .cast("bigint").alias("__cpos"),
                  F.sum(F.when(F.col("__y"), 0).otherwise(1))
                  .cast("bigint").alias("__cneg")))
    return _weights_from_vocab(vocab, scale)


def apply_token_classifier(df: DataFrame, weights: DataFrame,
                           text_col: str = "text", id_col: str = "doc_id",
                           scale: int = 1_000_000,
                           broadcast_model: bool = True) -> DataFrame:
    """Score documents with a PERSISTED (term, weight_micro) model table
    — the apply half of the :func:`token_weight_table` lifecycle, and
    the production shape of classifier curation (CCNet/DataComp train
    their quality classifier once and run it over every crawl): no
    training aggregate anywhere in this plan, just one scan of ``df``,
    a (doc, term) count, and one equi-join against the
    vocabulary-bounded model.

    The model side BROADCASTS by contract, not by optimizer estimate
    (``broadcast_model=False`` opts out): a loaded model frame is
    store-read- or checkpoint-backed, so AQE has NO size statistics
    for it and falls back to a SortMergeJoin — the r9 ×100 probe
    measured exactly that (1M docs, ~1M-term weight table: 1 SMJ,
    28 GB of sort spill of the corpus-scaled doc-term frame, the same
    cliff bpe_fold hit with its mapInPandas-produced vocabulary). A
    (term, weight) table is bounded model state — tens of MB per
    million terms — and the apply join must stay map-side at 100 TB.

    Scoring semantics match :func:`linear_token_classifier` exactly
    (same mean-token-weight logit, same hard sigmoid, same truncating
    integer ops), so a model trained inline and one loaded from the
    store produce bit-identical scores. Documents with ZERO
    in-vocabulary tokens are absent from the output (no evidence, no
    score — callers needing them visible left-join and treat NULL as
    unscored; the f15 accounting does).

    Returns (id, n_tokens, logit_micro, score_micro, pred) for every
    document with at least one in-vocabulary token."""
    # hash-spread by the unique id + post-exchange tokenize, partitioning
    # reused by the (id, term) groupBy — one exchange (r13, the
    # bpe_doc_word_counts shape; plain explode per its codegen note)
    tf = (spread(df.select(F.col(id_col), F.col(text_col)), by=id_col)
          .select(F.col(id_col),
                  F.explode(tokens(text_col)).alias("term"))
          .filter(F.col("term").isNotNull())
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    return apply_token_classifier_from_counts(
        tf, weights, id_col=id_col, scale=scale,
        broadcast_model=broadcast_model)


def apply_token_classifier_from_counts(
        tf: DataFrame, weights: DataFrame, id_col: str = "doc_id",
        term_col: str = "term", count_col: str = "tf",
        scale: int = 1_000_000,
        broadcast_model: bool = True) -> DataFrame:
    """Score documents from a PRE-FOLDED ``(doc, term, count)`` frame —
    the shared-fold twin of :func:`apply_token_classifier` for pipelines
    that already pay the (doc, word) tokenize for another model family:
    the r10 ×100 cold-start probe measured the fold at ~75% of the whole
    f15 apply wall (190 s of 255 s at 1M docs), and a classifier+BPE
    apply that folds once instead of twice drops one full corpus scan —
    at 100 TB the dominant term. ``tf`` must carry exactly one row per
    (doc, term) with its count (``bpe_doc_word_counts`` output qualifies:
    same ``tokens()`` normalization, and the ``!= ''`` filter is vacuous
    since normalize collapses whitespace before the split).

    Scoring semantics, broadcast-by-contract model join, and the
    missing-doc contract are :func:`apply_token_classifier`'s exactly —
    that function now delegates here."""
    tf = tf.select(F.col(id_col), F.col(term_col).alias("term"),
                   F.col(count_col).alias("tf"))
    w = weights.select("term", F.col("weight_micro").alias("__w"))
    if broadcast_model:
        w = F.broadcast(w)
    return (tf.join(w, "term")
            .groupBy(id_col)
            .agg(F.sum("tf").alias("n_tokens"),
                 F.sum(F.col("tf") * F.col("__w")).alias("__dot"))
            .transform(lambda d: _close_scores(d, scale))
            .select(F.col(id_col), F.col("n_tokens"),
                    F.col("logit_micro"), F.col("score_micro"),
                    F.col("pred")))


def classifier_calibration(scored: DataFrame, score_col: str = "score_micro",
                           label_col: str = "label", step: int = 50_000,
                           scale: int = 1_000_000) -> DataFrame:
    """Precision/recall/F1 sweep over score cutoffs — how a curation
    pipeline chooses the quality-classifier threshold ON DATA instead of
    hard-coding one (pairs with :func:`linear_token_classifier` the way
    the e08 full-probe oracle pairs with e04): for every cutoff ``c`` on
    a fixed micro-unit grid, a document is predicted positive iff
    ``score >= c``, and the confusion counts close into exact-integer
    micro-unit precision/recall/F1.

    Scale shape: ONE corpus-sized aggregate — the per-(score-bucket,
    label) count, ``localCheckpoint``-ed because both the totals row and
    the sweep join fold it (without the pin each consumer would replay
    the upstream scoring pipeline) — then everything runs on the
    bounded ``(scale/step + 1) × 2`` bucket frame: the cutoff grid
    joins buckets on ``bucket >= k`` (a broadcast nested-loop over two
    bounded sides), so cutoff ``k·step`` counts exactly the documents
    with ``score_micro >= k·step`` — the bucket floor loses nothing
    because cutoffs sit ON bucket boundaries. Bucketing is FLOOR
    division (Spark's ``div`` truncates toward zero, so negatives get
    an explicit floor branch): a negative score lands in a negative
    bucket and is predicted positive at NO cutoff, matching the
    ``score >= c`` contract at ``c = 0``. DuckDB's ``//`` ALSO
    truncates toward zero (``-7 // 2 = -3``, not ``-4``), so a SQL
    oracle must mirror the same explicit negative-bucket branch —
    ``_t17_sql`` does.
    No window over a single data-scaled partition anywhere.

    All ratios are exact integer micro-units (truncating div, both
    engines agree: numerators are non-negative): ``precision =
    scale·tp div (tp+fp)`` (NULL when nothing is predicted positive),
    ``recall = scale·tp div pos`` (NULL when there are no positives),
    ``f1 = 2·scale·tp div (tp + fp + pos)`` (the fn-substituted closed
    form; NULL when the denominator is 0).

    Returns one row per cutoff: (cutoff_micro, tp, fp, fn, tn,
    precision_micro, recall_micro, f1_micro).
    """
    if step < 1 or int(scale) % int(step) != 0:
        raise ValueError(
            f"step must be a positive divisor of scale for an exact "
            f"boundary grid, got step={step} scale={scale}")
    step, scale = int(step), int(scale)
    spark = scored.sparkSession
    bk = (scored.select(F.expr(
              f"CASE WHEN {score_col} >= 0 THEN {score_col} div {step} "
              f"ELSE -((-({score_col}) + {step - 1}) div {step}) END")
          .alias("__b"),
                        F.col(label_col).alias("__y"))
          .groupBy("__b", "__y").agg(F.count(F.lit(1)).alias("__n"))
          .localCheckpoint(eager=False))
    tot = bk.agg(
        F.coalesce(F.sum(F.when(F.col("__y"), F.col("__n"))), F.lit(0))
        .cast("bigint").alias("__pos"),
        F.coalesce(F.sum(F.when(~F.col("__y"), F.col("__n"))), F.lit(0))
        .cast("bigint").alias("__neg"))
    ks = spark.range(0, scale // step + 1).select(F.col("id").alias("__k"))
    return (ks.join(bk, F.col("__b") >= F.col("__k"), "left")
            .groupBy("__k")
            .agg(F.coalesce(F.sum(F.when(F.col("__y"), F.col("__n"))),
                            F.lit(0)).cast("bigint").alias("tp"),
                 F.coalesce(F.sum(F.when(~F.col("__y"), F.col("__n"))),
                            F.lit(0)).cast("bigint").alias("fp"))
            .crossJoin(F.broadcast(tot))
            .select((F.col("__k") * step).cast("bigint")
                    .alias("cutoff_micro"),
                    "tp", "fp",
                    (F.col("__pos") - F.col("tp")).cast("bigint").alias("fn"),
                    (F.col("__neg") - F.col("fp")).cast("bigint").alias("tn"),
                    F.when(F.col("tp") + F.col("fp") > 0, F.expr(
                        f"({scale} * tp) div (tp + fp)")).cast("bigint")
                    .alias("precision_micro"),
                    F.when(F.col("__pos") > 0, F.expr(
                        f"({scale} * tp) div __pos")).cast("bigint")
                    .alias("recall_micro"),
                    F.when(F.col("tp") + F.col("fp") + F.col("__pos") > 0,
                           F.expr(f"(2 * {scale} * tp)"
                                  " div (tp + fp + __pos)")).cast("bigint")
                    .alias("f1_micro")))


def select_f1_cutoff(calib: DataFrame) -> DataFrame:
    """One-row (cutoff_micro, f1_micro) frame: the F1-argmax of a
    :func:`classifier_calibration` sweep, ties broken toward the LOWEST
    cutoff (the more permissive gate — at equal F1, keep more data).
    This is the third piece of the persisted-classifier lifecycle: the
    chosen threshold is model state exactly like the weight table, so
    it saves as a one-row ``score_cutoff`` model and APPLY tasks gate
    on ``score_micro >= cutoff_micro`` as a pure integer compare with
    no calibration sweep in their plan.

    The sort is over the calibration frame — ``scale/step + 1`` rows
    by construction, never data-scaled."""
    return (calib.orderBy(F.col("f1_micro").desc_nulls_last(),
                          F.col("cutoff_micro").asc())
            .limit(1)
            .select("cutoff_micro", "f1_micro"))


def roc_auc_exact(scored: DataFrame, score_col: str = "score_micro",
                  label_col: str = "label",
                  scale: int = 1_000_000) -> DataFrame:
    """Exact ROC-AUC of a scored, labeled frame by the Mann-Whitney
    rank-sum identity — the threshold-free companion to
    :func:`classifier_calibration`'s fixed-grid sweep: AUC is the
    probability a random positive outscores a random negative, ties
    counting half, so ``2U = Σ_s npos(s) · (2·nneg_below(s) + nneg(s))``
    summed over distinct score values and
    ``AUC = U / (npos · nneg)`` — all exact integers until one closing
    truncating division into micro-units (both engines agree: every
    numerator is non-negative).

    Scale shape: ONE corpus-sized aggregate onto the distinct-score
    frame, which is BOUNDED by the integer micro-unit score domain
    (≤ ``scale + 1`` rows), so the single-partition cumulative window
    that follows never sees a data-scaled partition. Returns one row:
    (n_pos, n_neg, n_scores, two_u, auc_micro) with ``auc_micro`` NULL
    when either class is empty.
    """
    from pyspark.sql import Window

    b = (scored.groupBy(F.col(score_col).alias("__s"))
         .agg(F.sum(F.when(F.col(label_col), 1).otherwise(0))
              .cast("bigint").alias("__np"),
              F.sum(F.when(~F.col(label_col), 1).otherwise(0))
              .cast("bigint").alias("__nn")))
    # bounded frame (score domain), so the partition-less window is safe
    wb = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    c = b.withColumn("__nb", F.coalesce(F.sum("__nn").over(wb), F.lit(0)))
    return (c.agg(F.sum("__np").cast("bigint").alias("n_pos"),
                  F.sum("__nn").cast("bigint").alias("n_neg"),
                  F.count(F.lit(1)).cast("bigint").alias("n_scores"),
                  F.sum(F.col("__np") * (2 * F.col("__nb") + F.col("__nn")))
                  .cast("bigint").alias("two_u"))
            .select("n_pos", "n_neg", "n_scores", "two_u",
                    F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                           F.expr(f"({int(scale)} * two_u)"
                                  " div (2 * n_pos * n_neg)"))
                    .cast("bigint").alias("auc_micro")))


def gopher_rules(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 min_words: int = 40, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 min_distinct_stopwords: int = 2,
                 max_top_word_frac: float = 0.08,
                 parallelism: int | None = None,
                 keep_cols: Sequence[str] = ()) -> DataFrame:
    """Gopher-style document filter battery (Rae et al. 2021, §A1.1): the
    per-rule verdicts pretraining pipelines AND together before a document
    enters the corpus — word-count bounds, mean-word-length bounds, a
    minimum of distinct stopwords (a "natural language" signal), and a cap
    on the most frequent word's share (degenerate/keyword-stuffed text).

    Scale shape: every rule is a scan-side Catalyst expression over the
    materialized token array — no shuffle, no UDFs. ``mean_word_len``
    avoids an O(tokens) fold: the normalized text is single-space joined,
    so the summed word length is ``length(norm) - (n_words - 1)`` exactly.
    ``top_word_frac`` is O(distinct_words × tokens) per document but
    row-local and bounded by document size, so it parallelizes with the
    scan. All divisions are int/int in doubles — bit-identical across
    engines, emitted unrounded.

    ``keep_cols`` carries extra input columns through to the output so a
    filter-then-continue pipeline needs NO join back to the source frame:
    a self-join against a gopher-derived frame makes the analyzer
    deduplicate and re-optimize this (large) expression tree on both
    sides — measured ~8 s of per-run DRIVER time at any data scale in the
    f05 composition; the pass-through form plans in milliseconds.
    """
    reserved = {id_col, "n_words", "mean_word_len", "n_stopwords",
                "top_word_frac", "rule_word_count", "rule_mean_word_len",
                "rule_stopwords", "rule_top_word", "keep", "__norm", "__toks"}
    bad = [c for c in keep_cols if c in reserved]
    if bad or len(set(keep_cols)) != len(keep_cols):
        raise ValueError(
            f"gopher_rules keep_cols collide with output/reserved columns "
            f"or repeat: {bad or sorted(set(c for c in keep_cols if list(keep_cols).count(c) > 1))}")
    base = (spread(df.select(F.col(id_col),
                             *[F.col(c) for c in keep_cols],
                             F.col(text_col)),
                   parallelism, by=id_col)
            .select(F.col(id_col), *[F.col(c) for c in keep_cols],
                    normalize(text_col).alias("__norm")))
    base = base.withColumn("__toks", tokens_of_norm("__norm"))
    toks = F.col("__toks")
    n = F.size(toks).cast("bigint")
    mean_len = F.when(n > 0, (F.length("__norm") - (n - 1)).cast("double")
                      / n.cast("double")).otherwise(F.lit(0.0))
    n_stop = F.size(F.array_intersect(F.array_distinct(toks),
                                      F.array(*[F.lit(s) for s in STOPWORDS])))
    # max word frequency via count-per-distinct-word. O(distinct × n) per
    # document, but row-local and — measured on the 20x amplified probe —
    # FASTER than the asymptotically-better array_sort + equal-run struct
    # fold at realistic doc sizes (1.2 s vs 2.0 s marginal at ~60 tokens:
    # the fold pays per-element struct allocation; the quadratic form is
    # branch-free string equals inside codegen). Revisit only for
    # documents with thousands of tokens.
    top_cnt = F.when(
        n > 0,
        F.array_max(F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda x: x == w))))
    ).otherwise(F.lit(0))
    top_frac = F.when(n > 0, top_cnt.cast("double") / n.cast("double")) \
                .otherwise(F.lit(0.0))

    out = base.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        n_stop.cast("bigint").alias("n_stopwords"),
        top_frac.alias("top_word_frac"),
        ((n >= min_words) & (n <= max_words)).alias("rule_word_count"),
        ((mean_len >= min_mean_word_len)
         & (mean_len <= max_mean_word_len)).alias("rule_mean_word_len"),
        (n_stop >= min_distinct_stopwords).alias("rule_stopwords"),
        (top_frac <= max_top_word_frac).alias("rule_top_word"),
    )
    return out.withColumn(
        "keep", F.col("rule_word_count") & F.col("rule_mean_word_len")
        & F.col("rule_stopwords") & F.col("rule_top_word"))


def bm25_topk(df: DataFrame, query_terms: dict[str, Sequence[str]],
              text_col: str = "text", id_col: str = "doc_id",
              k: int = 10, k1: tuple[int, int] = (6, 5),
              b: tuple[int, int] = (3, 4),
              scale: int = 1_000_000) -> DataFrame:
    """Okapi BM25 top-k retrieval over the corpus, exact-integer
    end-to-end (Robertson & Zaragoza 2009), with the linear log-free idf
    ``N / df`` (same cross-engine discipline as
    :func:`distinctive_terms` — a ``ln`` differs by ulps across libms).

    ``k1`` and ``b`` are RATIONALS ``(num, den)`` (defaults 6/5 = 1.2 and
    3/4 = 0.75, the textbook values), so the whole per-term score clears
    denominators into one integer fraction::

        score(t, d) = (N/df) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
                    = NUM / DEN                         with avgdl = T/N,
        NUM = (k1n+k1d)*bd * tf * T * N
        DEN = df * (k1d*bd*tf*T + k1n*(bd-bn)*T + k1n*bn*dl*N)

    Each per-term score is HALF-UP rounded to integer micro-units —
    ``(2*NUM*scale + DEN) div (2*DEN)``, EVERY term in DECIMAL(38,0)
    (DuckDB mirror: HUGEINT) — then summed per (query, doc) as exact
    BIGINTs, so the ranking and the reported score are bit-identical
    across engines. The doubled form is algebraically the same half-up
    rounding but keeps the whole expression in the 128-bit lane: the
    naive ``DEN div 2`` intermediate is an integral divide, which Spark
    returns as BIGINT and silently wraps once ``DEN >= 2^64`` (verified:
    ``DECIMAL(38,0) div 2`` wraps even under ANSI). Likewise the DEN
    inner sum multiplies through DECIMAL — in BIGINT, ``20*tf*T``
    overflows int64 inside the envelope below. Headroom:
    ``88 * tf * T * N * scale < 10^38`` holds through ~3e10 docs /
    ~3e13 tokens at the defaults; only the final micro units (which fit
    int64 by construction: per-term score <= (k1+1) * N/df * scale)
    leave the decimal lane.

    Plan shape at 100 TB: the query-term membership filter lands ON the
    exploded scan (a literal IN over a handful of terms), so the only
    corpus-sized shuffle carries (doc, matching-term) rows — a vanishing
    fraction of the corpus. df/N/T are bounded aggregates (``df`` by the
    query vocabulary; N/T one row off a column-pruned second scan);
    everything joins back by broadcast. The final top-k window partitions
    by query over docs-with-hits only.

    Returns (query_id, rank, doc_id, n_terms_hit, n_tokens, score_micro,
    score), ``rank <= k`` per query, ties broken by doc_id.
    """
    from pyspark.sql import Window

    k1n, k1d = k1
    bn, bd = b
    if min(k1n, k1d, bn, bd) <= 0 or bn > bd:
        raise ValueError(f"k1/b must be positive rationals with b <= 1, "
                         f"got k1={k1}, b={b}")
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    if not all_terms:
        raise ValueError("query_terms is empty")
    import re
    bad = [t for t in all_terms if not re.fullmatch(r"[a-z0-9]+", t)]
    if bad:
        raise ValueError(f"query terms must be normalized [a-z0-9]+: {bad}")
    spark = df.sparkSession
    qt = values_frame(
        spark, [(q, t) for q, ts in query_terms.items() for t in ts],
        "query_id string, term string").dropDuplicates()

    # corpus stats off a column-pruned scan: one row, broadcast
    dls = (df.select(F.size(tokens(text_col)).alias("__dl"))
           .filter(F.col("__dl") > 0))
    stats = dls.agg(F.count(F.lit(1)).cast("bigint").alias("__n"),
                    F.sum("__dl").cast("bigint").alias("__t"))

    # the only corpus-sized stage: explode + literal IN filter; __dl
    # (the doc's FULL token count) rides the surviving rows. tokens()
    # is projected ONCE — size() and explode() off the same chain would
    # run the normalize+split regexes twice per document
    exploded = (df.select(F.col(id_col), tokens(text_col).alias("__toks"))
                .select(F.col(id_col), F.size("__toks").alias("__dl"),
                        F.explode("__toks").alias("term"))
                .filter(F.col("term").isin(*all_terms)))
    tf = (exploded.groupBy(id_col, "__dl", "term")
          .agg(F.count(F.lit(1)).alias("tf"))
          # tf feeds both the df fold and the scoring join: checkpoint so
          # the corpus explode runs ONCE, not once per consumer
          .localCheckpoint(eager=False))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))

    c_num = (k1n + k1d) * bd
    c_tf, c_t, c_dl = k1d * bd, k1n * (bd - bn), k1n * bn
    micro = F.expr(
        f"CAST((CAST({2 * c_num} AS DECIMAL(38,0)) * tf * __t * __n"
        f" * {int(scale)}"
        f" + __den) div (CAST(2 AS DECIMAL(38,0)) * __den) AS BIGINT)")
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("__den",
                          F.expr(f"CAST(__df AS DECIMAL(38,0)) * "
                                 f"(CAST({c_tf} AS DECIMAL(38,0)) * tf * __t"
                                 f" + CAST({c_t} AS DECIMAL(38,0)) * __t"
                                 f" + CAST({c_dl} AS DECIMAL(38,0))"
                                 f" * __dl * __n)"))
              .withColumn("__micro", micro)
              .join(F.broadcast(qt), "term")
              .groupBy("query_id", id_col)
              .agg(F.first("__dl").alias("n_tokens"),
                   F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
                   F.sum("__micro").alias("score_micro")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", id_col, "n_terms_hit", "n_tokens",
                    "score_micro",
                    (F.col("score_micro").cast("double")
                     / F.lit(float(scale))).alias("score")))
