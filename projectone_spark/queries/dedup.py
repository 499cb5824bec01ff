"""Deduplication queries over `documents`, with DuckDB oracles reproducing
the seeded-md5 MinHash / hex-digit SimHash arithmetic exactly."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from projectone_spark.functions.dedup import (
    component_minima,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_frame,
)
from projectone_spark.functions import values_frame
from projectone_spark.functions.text import STOPWORDS
from projectone_spark.queries import load, register
from projectone_spark.queries._sql_fragments import _NORM, _SHINGLES, _TOKS

_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)
# char 5-gram shingles over normalized text (>=1 shingle even for short text)


def _mh_sql(i: int) -> str:
    return (f"list_aggregate(list_transform({_SHINGLES},"
            f" s -> md5('{i}' || s)), 'min')")


_D01_SQL = f"""
SELECT md5({_NORM}) AS content_md5,
       min(doc_id) AS doc_id,
       count(*)    AS n_dups
FROM documents
GROUP BY md5({_NORM})
"""


@register("d01_exact_dedup", _D01_SQL,
          doc="exact dedup: hash-groupBy on normalized-content md5",
          tags=("dedup",))
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


_D02_SQL = f"""
SELECT doc_id,
       {_mh_sql(0)} AS mh0,
       {_mh_sql(1)} AS mh1,
       {_mh_sql(2)} AS mh2,
       {_mh_sql(3)} AS mh3
FROM documents
"""


@register("d02_minhash_signatures", _D02_SQL,
          doc="MinHash: 4 seeded-md5 min-hashes over char-5-gram shingles",
          tags=("dedup", "minhash"))
def d02_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load(spark, sf_dir, "documents"))


def _d05_band_case() -> str:
    """CASE expression computing auto_band_chars(count(*)) — generated from
    the SAME integer thresholds the Spark side uses, so the oracle picks the
    identical prefix width at every scale factor."""
    from projectone_spark.functions.dedup import _BAND_THRESHOLDS

    whens = " ".join(f"WHEN cnt <= {limit} THEN {c}"
                     for limit, c in _BAND_THRESHOLDS)
    return f"CASE {whens} ELSE 8 END"


_D03_SQL = f"""
WITH sigs AS (
  SELECT doc_id,
         {_mh_sql(0)} AS mh0, {_mh_sql(1)} AS mh1,
         {_mh_sql(2)} AS mh2, {_mh_sql(3)} AS mh3
  FROM documents),
-- band width auto-sized from the corpus count with the SAME integer
-- thresholds as the Spark default (auto_band_chars) — the d05 pattern,
-- so the oracle picks the identical prefix width at every scale factor
n3 AS (SELECT count(*) AS cnt FROM documents),
p3 AS (SELECT {_d05_band_case()} AS bc FROM n3),
banded AS (SELECT *, substr(mh0, 1, (SELECT bc FROM p3)) AS band FROM sigs)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END
            + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
            + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END
            + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) / 4.0, 4) AS est_jaccard
FROM banded a JOIN banded b
  ON a.band = b.band AND a.doc_id < b.doc_id
"""


@register("d03_lsh_candidate_pairs", _D03_SQL,
          doc="LSH banding on minhash prefix → candidate pairs + estimated "
              "Jaccard; the within-bucket self-join is triangle-blocked "
              "(blocks=8) so one popular-shingle mega-bucket spreads its "
              "quadratic pair work over ~32 tasks instead of one reducer",
          tags=("dedup", "minhash", "lsh"))
def d03_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(load(spark, sf_dir, "documents"), blocks=8)


def _simhash_sql() -> str:
    bit_exprs = []
    for j in range(1, 17):
        total = (f"list_aggregate(list_transform(list_distinct({_TOKS}),"
                 f" t -> strpos('0123456789abcdef', substr(md5(t), {j}, 1)) - 8.5),"
                 f" 'sum')")
        bit_exprs.append(f"CASE WHEN {total} > 0 THEN '1' ELSE '0' END")
    bits = " || ".join(bit_exprs)
    return f"SELECT doc_id, {bits} AS simhash FROM documents"


@register("d04_simhash", _simhash_sql(),
          doc="16-bit SimHash over token md5 hex digits",
          tags=("dedup", "simhash"))
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_frame(load(spark, sf_dir, "documents"))


_D05_SQL = f"""
WITH n AS (SELECT count(*) AS cnt FROM documents),
p AS (SELECT {_d05_band_case()} AS bc FROM n),
t AS (
  SELECT doc_id, list_distinct({_TOKS}) AS toks,
         substr(md5({_NORM}), 1, (SELECT bc FROM p)) AS band
  FROM documents)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round(CASE WHEN len(a.toks) + len(b.toks)
                       - len(list_filter(a.toks, x -> list_contains(b.toks, x))) > 0
                  THEN CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
                       / (len(a.toks) + len(b.toks)
                          - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
                  ELSE 0.0 END, 4) AS jaccard
FROM t a JOIN t b ON a.band = b.band AND a.doc_id < b.doc_id
"""


@register("d05_ngram_jaccard", _D05_SQL,
          doc="exact token-set Jaccard on content-hash-bucketed candidate pairs",
          tags=("dedup", "jaccard"))
def d05_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


def _d06_sql() -> str:
    from projectone_spark.queries._embed_sql import _E_DBL, _bucket_sql, _dot, _norm

    return f"""
WITH v AS (SELECT vec_id, {_E_DBL} AS e FROM embeddings),
b AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM v)
SELECT a.vec_id AS vec_id_a, c.vec_id AS vec_id_b,
       round({_dot('a.e', 'c.e')} / ({_norm('a.e')} * {_norm('c.e')}), 6) AS cosine
FROM b a JOIN b c USING (bucket)
WHERE a.vec_id < c.vec_id
  AND {_dot('a.e', 'c.e')} / ({_norm('a.e')} * {_norm('c.e')}) >= 0.35
"""


@register("d06_embedding_neardup", _d06_sql(),
          doc="embedding-cosine near-duplicate pairs, LSH-bucketed: pair "
              "generation is a bucket equi-join (one shuffle), never the "
              "O(n^2) cross product",
          tags=("dedup", "embeddings", "lsh"))
def d06_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from projectone_spark.functions.embeddings import cosine, lsh_bucket

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    # checkpoint: the self-join's two branches reuse the computed buckets
    # instead of re-evaluating the 8 hyperplane aggregations per side
    b = emb.withColumn("bucket", lsh_bucket(F.col("e"))).localCheckpoint(eager=False)
    a, c = b.alias("a"), b.alias("c")
    cos = cosine(F.col("a.e"), F.col("c.e"))
    return (a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
                   & (F.col("a.vec_id") < F.col("c.vec_id")))
            .filter(cos >= 0.35)
            .select(F.col("a.vec_id").alias("vec_id_a"),
                    F.col("c.vec_id").alias("vec_id_b"),
                    F.round(cos, 6).alias("cosine")))


_D07_SQL = f"""
WITH sig AS (
  SELECT doc_id, md5({_mh_sql(0)} || '|' || {_mh_sql(1)}) AS bucket
  FROM documents),
q AS (
  SELECT doc_id,
         round(least(CAST(len({_TOKS}) AS DOUBLE) / 50.0, 1.0) * 0.4
               + (1.0 - least(abs(CASE WHEN len({_TOKS}) > 0
                     THEN CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
                          / len({_TOKS}) ELSE 0.0 END - 0.3) * 2, 1.0)) * 0.3
               + (1.0 - least((CASE WHEN length(text) > 0
                     THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                          / CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 4, 1.0)) * 0.3,
               4) AS quality
  FROM documents),
ranked AS (
  SELECT sig.bucket, sig.doc_id, q.quality,
         row_number() OVER (PARTITION BY sig.bucket
                            ORDER BY q.quality DESC, sig.doc_id) AS rn,
         count(*) OVER (PARTITION BY sig.bucket) AS n_members
  FROM sig JOIN q USING (doc_id))
SELECT bucket, doc_id AS kept_doc, quality, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@register("d07_keep_best_neardup", _D07_SQL,
          doc="near-dup canonicalization: LSH band bucket (minhash pair) "
              "keeps its highest-quality member (tie: lowest doc_id) — the "
              "'which copy survives' half of dedup that d01-d06 leave to "
              "the caller",
          tags=("dedup", "quality", "llm"))
def d07_keep_best_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from projectone_spark.functions.text import text_stats

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs).select(
        "doc_id", F.md5(F.concat_ws("|", "mh0", "mh1")).alias("bucket"))
    quality = text_stats(docs).select("doc_id", "quality")
    joined = sigs.join(quality, "doc_id")
    w = Window.partitionBy("bucket").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (joined
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_members", F.count(F.lit(1))
                        .over(Window.partitionBy("bucket")))
            .filter(F.col("rn") == 1)
            .select("bucket", F.col("doc_id").alias("kept_doc"),
                    "quality", F.col("n_members").cast("bigint")))


_D08_SQL = f"""
WITH RECURSIVE sigs AS (
  SELECT doc_id, {_mh_sql(0)} AS mh0, {_mh_sql(1)} AS mh1 FROM documents),
bands AS (
  SELECT doc_id, '0' || substr(mh0, 1, 2) AS band FROM sigs
  UNION ALL
  SELECT doc_id, '1' || substr(mh1, 1, 2) AS band FROM sigs),
hubs AS (SELECT band, min(doc_id) AS hub FROM bands GROUP BY band),
star AS (
  SELECT h.hub AS s, b.doc_id AS d
  FROM bands b JOIN hubs h USING (band)
  WHERE b.doc_id <> h.hub),
edges AS (SELECT s, d FROM star UNION SELECT d, s FROM star),
reach(node, lab) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, r.lab FROM edges e JOIN reach r ON r.node = e.d)
SELECT node AS doc_id, min(lab) AS component FROM reach GROUP BY node
"""


@register("d08_connected_neardups", _D08_SQL,
          doc="near-dup components across overlapping LSH bands via GRAPH "
              "CONTRACTION: docs sharing a band are transitively one "
              "component, so the doc graph contracts to the band graph "
              "(node = band, edge = a doc in two bands). The band space is "
              "bounded by the band-key domain (2·16^w keys), so distinct "
              "band-edges + per-band (hub, size) stats collect to the "
              "driver for a union-find, and one broadcast join labels "
              "every doc — two small jobs instead of O(diameter) "
              "label-propagation shuffle rounds (the union-find is "
              "functions.dedup.component_minima, which "
              "functions.dedup.connected_components also runs on any edge "
              "list under the broadcast threshold); oracle = "
              "recursive-CTE reachability over the equivalent star edges",
          tags=("dedup", "graph", "llm"))
def d08_connected_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpoint before the band self-aggregation joins: without it Catalyst
    # pushes the join's isnotnull(band) into the scan, inlining the minhash
    # chain into a pre-spread Filter where the normalize regexes re-run per
    # shingle element
    sigs = (minhash_signatures(load(spark, sf_dir, "documents"), num_hashes=2)
            .select("doc_id",
                    F.concat(F.lit("0"), F.substring("mh0", 1, 2)).alias("b0"),
                    F.concat(F.lit("1"), F.substring("mh1", 1, 2)).alias("b1"))
            .localCheckpoint(eager=False))
    bands = (sigs.select("doc_id", F.col("b0").alias("band"))
             .unionByName(sigs.select("doc_id", F.col("b1").alias("band"))))
    # per-band hub (min doc) and size; the component's min doc is always a
    # hub (it is <= every member of its own buckets), so min-over-hubs ==
    # min-over-docs per component
    stats = (bands.groupBy("band")
             .agg(F.min("doc_id").alias("hub"),
                  F.count(F.lit(1)).alias("n")).collect())
    band_edges = sigs.select("b0", "b1").distinct().collect()

    index = {r["band"]: i for i, r in enumerate(stats)}
    root = component_minima(
        np.array([index[r["b0"]] for r in band_edges], dtype=np.int64),
        np.array([index[r["b1"]] for r in band_edges], dtype=np.int64),
        len(stats))
    comp_min = np.full(len(stats), np.iinfo(np.int64).max)
    np.minimum.at(comp_min, root, [r["hub"] for r in stats])
    label = [(r["band"], int(comp_min[root[i]]), int(r["n"]))
             for i, r in enumerate(stats)]
    lab_df = values_frame(sigs.sparkSession, label,
                          "band string, component bigint, n bigint")
    # a doc appears in the oracle's edge list iff either of its buckets has
    # >= 2 members (singleton buckets emit no star edges)
    return (sigs
            .join(F.broadcast(lab_df.select(F.col("band").alias("b0"),
                                            "component",
                                            F.col("n").alias("n0"))), "b0")
            .join(F.broadcast(lab_df.select(F.col("band").alias("b1"),
                                            F.col("n").alias("n1"))), "b1")
            .filter((F.col("n0") >= 2) | (F.col("n1") >= 2))
            .select("doc_id", "component"))


_D11_SQL = f"""
WITH sigs AS (
  SELECT doc_id, (doc_id % 10 = 0) AS is_new,
         {_mh_sql(0)} AS mh0, {_mh_sql(1)} AS mh1,
         {_mh_sql(2)} AS mh2, {_mh_sql(3)} AS mh3
  FROM documents),
banded AS (SELECT *, substr(mh0, 1, 2) AS band FROM sigs)
SELECT least(a.doc_id, b.doc_id) AS doc_id_a,
       greatest(a.doc_id, b.doc_id) AS doc_id_b,
       round((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END
            + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
            + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END
            + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) / 4.0, 4)
         AS est_jaccard
FROM banded a JOIN banded b
  ON a.band = b.band AND a.is_new
 AND a.doc_id <> b.doc_id
 AND (NOT b.is_new OR a.doc_id < b.doc_id)
"""


@register("d11_incremental_lsh_pairs", _D11_SQL,
          doc="incremental near-dup: every-10th document plays a daily "
              "delta probing the standing LSH buckets — delta×base and "
              "delta×delta candidate pairs only, never a re-run of the "
              "base×base self-join; join cost is O(delta × bucket width), "
              "independent of the standing corpus squared",
          tags=("dedup", "minhash", "lsh", "incremental", "llm"))
def d11_incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projectone_spark.functions.dedup import incremental_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    return incremental_lsh_pairs(docs.filter(F.col("doc_id") % 10 != 0),
                                 docs.filter(F.col("doc_id") % 10 == 0))


def _d16_sql(sample_n: int = 256, scale: int = 1_000_000,
             salt: str = "d16") -> str:
    """Mirror of functions/dedup.lsh_recall_audit: md5-draw sample,
    exact shingle-set Jaccard via the shingle equi-join, d03's seeded
    minhash banding, τ = 1/2 as an integer compare. The band width is
    auto-sized from the FULL corpus count with the d05 CASE (matching
    lsh_recall_audit's default), so the audit's oracle agrees with the
    Spark side at every scale factor, not just ≤16384 docs."""
    mh = [f"list_aggregate(list_transform(sh, s -> md5('{i}' || s)), 'min')"
          f" AS mh{i}" for i in range(4)]
    eq = " + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
                    for i in range(4))
    return f"""
WITH n16 AS (SELECT count(*) AS cnt FROM documents),
p16 AS (SELECT {_d05_band_case()} AS bc FROM n16),
smp AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM documents
  ORDER BY md5('{salt}:' || CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {sample_n}),
sig AS (SELECT doc_id, {', '.join(mh)} FROM smp),
cand AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST({eq} AS BIGINT) AS eq
  FROM sig a JOIN sig b
    ON substr(a.mh0, 1, (SELECT bc FROM p16))
       = substr(b.mh0, 1, (SELECT bc FROM p16))
   AND a.doc_id < b.doc_id),
shx AS (SELECT doc_id, unnest(sh) AS s FROM smp),
pin AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST(count(*) AS BIGINT) AS it
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM smp),
allp AS (
  SELECT doc_id_a, doc_id_b, COALESCE(pin.it, 0) AS n_inter, cand.eq AS eq
  FROM cand FULL JOIN pin USING (doc_id_a, doc_id_b)),
fin AS (
  SELECT allp.doc_id_a, allp.doc_id_b, n_inter,
         sa.n + sb.n - n_inter AS n_union, eq
  FROM allp JOIN sz sa ON sa.doc_id = allp.doc_id_a
            JOIN sz sb ON sb.doc_id = allp.doc_id_b)
SELECT doc_id_a, doc_id_b, n_inter, n_union,
       CAST(({scale} * n_inter) // n_union AS BIGINT) AS jaccard_micro,
       CAST(({scale} * eq) // 4 AS BIGINT) AS est_micro,
       n_inter * 2 >= n_union AS is_true,
       eq IS NOT NULL AS is_candidate
FROM fin
WHERE n_inter * 2 >= n_union OR eq IS NOT NULL
"""


@register("d16_lsh_recall_audit", _d16_sql(),
          doc="precision/recall audit of MinHash-LSH candidate pairs "
              "against EXACT shingle Jaccard at τ=1/2 (the MMDS S-curve "
              "calibration, run INSIDE the engine so a dedup index "
              "config ships with measured candidate quality — the dedup "
              "twin of e17): ground truth is all-pairs exact Jaccard "
              "over a deterministic md5-draw sample, so the audit is "
              "O(sample²)-bounded by contract regardless of corpus "
              "size; intersections are exact integer counts from the "
              "shingle equi-join, the duplicate verdict an integer "
              "compare, and false negatives/positives appear as "
              "explicit (is_true, is_candidate) rows",
          tags=("dedup", "minhash", "lsh", "evaluation"))
def d16_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projectone_spark.functions.dedup import lsh_recall_audit

    return lsh_recall_audit(load(spark, sf_dir, "documents"))
