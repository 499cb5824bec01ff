"""``text.normalize`` runs no case mapping, yet must equal the recipe it
replaced: ``lower`` → ``[^a-z0-9 ]`` to spaces → collapse → trim.

Spark's ``lower`` is the reference here, so the checks run in Spark and
compare the two expressions row by row: over every Unicode scalar value
(U+0000–U+10FFFF without the surrogates), alone and inside ASCII
context, and over Hypothesis text that leans on the two code points that
lowercase into ASCII (U+0130, U+212A), combining marks, supplementary
planes, tabs and NULL. ``normalizes_nonempty`` (the winnow gate) is
compared with ``lower(text) RLIKE '[a-z0-9]'`` the same way. The DuckDB
oracle's mirror, ``queries._sql_fragments._NORM``, is checked against
``normalize`` over every code point too.
"""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from projectone_spark.functions.text import normalize, normalizes_nonempty
from projectone_spark.queries._sql_fragments import _NORM

SURROGATES = (0xD800, 0xDFFF)


def _old_normalize(c):
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def _old_gate(c):
    return F.lower(c).rlike("[a-z0-9]")


def _mismatches(df, col: str = "s"):
    """Rows where the new normalize or gate differs from the old one."""
    c = F.col(col)
    return df.filter(~(normalize(c).eqNullSafe(_old_normalize(c)))
                     | ~(normalizes_nonempty(c).eqNullSafe(_old_gate(c))))


@pytest.fixture(scope="module")
def code_points(spark):
    """One row per Unicode scalar value, with its one-character string:
    its UTF-16BE code units (a surrogate pair above U+FFFF) decoded by
    the JVM's charset."""
    lo, hi = SURROGATES
    return (spark.range(0, 0x110000)
            .filter((F.col("id") < lo) | (F.col("id") > hi))
            .withColumn("u16", F.expr(
                "CASE WHEN id < 65536 THEN lpad(hex(id), 4, '0') ELSE concat("
                "hex(55296 + shiftright(id - 65536, 10)),"
                " hex(56320 + ((id - 65536) & 1023))) END"))
            .withColumn("c", F.expr("decode(unhex(u16), 'UTF-16BE')")))


def test_code_point_strings_decode(code_points):
    """The generator itself: every string is one code point, its own."""
    bad = code_points.filter(
        (F.length("c") != 1)
        | (F.expr("hex(encode(c, 'UTF-16BE'))") != F.col("u16")))
    assert code_points.count() == 0x110000 - 0x800
    assert bad.limit(5).collect() == []


def test_every_code_point(code_points):
    """Each code point alone, between ASCII letters (the combining dot of
    U+0130 lands mid-word) and doubled (runs collapse the same way)."""
    df = code_points.select(
        "id", F.explode(F.array(
            F.col("c"),
            F.concat(F.lit("Ab"), F.col("c"), F.lit("Z9")),
            F.concat(F.lit(" x "), F.col("c"), F.col("c"), F.lit("\t")),
        )).alias("s"))
    bad = _mismatches(df).select(F.format_string("U+%04X", "id")).limit(10)
    assert [r[0] for r in bad.collect()] == []


_KNOWN = [("İ", "i"), ("xİy", "xi y"), ("K", "k"),
          ("Kelvin", "kelvin"), ("ı", ""), ("ſ", ""),
          ("Ȧ", "a"), ("\t\x00Q\x00", "q"), (None, None)]


def test_gate_and_normalize_on_known_code_points(spark):
    df = spark.createDataFrame(_KNOWN, "s string, want string")
    got = df.select("want", normalize("s").alias("n"),
                    normalizes_nonempty("s").alias("g")).collect()
    assert [r.n for r in got] == [r.want for r in got]
    assert [r.g for r in got] == [None if r.want is None else r.want != ""
                                  for r in got]
    con = duckdb.connect()
    assert [con.execute(f"SELECT {_NORM} FROM (SELECT ? AS text)",
                        [s]).fetchone()[0] for s, _ in _KNOWN] \
        == [want for _, want in _KNOWN]


def test_oracle_mirror_on_every_code_point(spark, tmp_path):
    """DuckDB's ``_NORM`` gives ``normalize``'s string for every code
    point in the contexts of :func:`test_every_code_point`: DuckDB's
    ``lower`` differs from Spark's only at U+0130, which ``_NORM``
    replaces first."""
    lo, hi = SURROGATES
    path = str(tmp_path / "norm.parquet")
    duckdb.connect().execute(f"""
        COPY (WITH c AS (SELECT id, chr(CAST(id AS INTEGER)) AS ch
                         FROM range(0, {0x110000}) r(id)
                         WHERE id < {lo} OR id > {hi}),
              t AS (SELECT id, unnest([ch, 'Ab' || ch || 'Z9',
                                       ' x ' || ch || ch || chr(9)]) AS text
                    FROM c)
              SELECT id, text, {_NORM} AS norm FROM t)
        TO '{path}' (FORMAT parquet)""")
    df = spark.read.parquet(path)
    assert df.count() == 3 * (0x110000 - 0x800)
    bad = (df.filter(~normalize("text").eqNullSafe(F.col("norm")))
           .select(F.format_string("U+%04X", "id")).distinct().limit(10))
    assert [r[0] for r in bad.collect()] == []


_SPECIAL = st.sampled_from([
    "İ", "K", "̇", "́", "ͅ", "Σ", "ß",
    "ﬀ", "ẞ", "Ω", "\U0001d400", "\U00010400", "\U0001f600",
    "\t", "\x00", " ", "I", "K", "i", "k", "9", "_",
])
_CHARS = st.one_of(_SPECIAL, st.characters(exclude_categories=("Cs",)))
_TEXTS = st.one_of(st.none(), st.text(alphabet=_CHARS, max_size=24))


@given(texts=st.lists(_TEXTS, min_size=1, max_size=40))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_random_text(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    assert _mismatches(df).collect() == []
