"""DuckDB correctness gates. Each returns a count of output rows that differ
from what DuckDB computes over the same generated inputs (0 = correct).

The gates read the store's committed parquet files directly, so they need
no Spark session and can be exercised by the benchmark's own tests.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Sequence

import duckdb

# the engine's SCD metadata column names and open-row sentinel
VALID_FROM = "__metadata_valid_from_ts__"
VALID_TO = "__metadata_valid_to_ts__"
ACTIVE = "__metadata_active__"
SCD2_SENTINEL = "9999-12-31 00:00:00"

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "that", "for", "on", "with", "as", "at", "by", "this")


def store_files(store_root: str, table: str) -> list[str]:
    """Parquet files of a store table's current version, from its manifest."""
    with open(os.path.join(store_root, table, "_manifest.json")) as f:
        dirs = json.load(f)["dirs"]
    return sorted(p for d in dirs
                  for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def _files(paths: Sequence[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _sym_diff(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
        f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()[0]


# -- scd_incremental ---------------------------------------------------------

SCD2_PAYLOAD = ("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                "l_extendedprice", "l_discount", "l_shipdate", "l_comment")


def scd2_mismatches(table_files: Sequence[str], source_files: Sequence[str],
                    updated_keys: int) -> int:
    """Full SCD2 history check: every source version becomes one row, valid
    from its ``ingest_ts`` until the next version's (or the sentinel), and
    only the latest is active. Adds the invariant violations: keys without
    exactly one active row, and closed rows beyond the updated-key count."""
    con = duckdb.connect()
    cols = ", ".join(SCD2_PAYLOAD)
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet({_files(source_files)})")
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet({_files(table_files)})")
    expected = f"""
        SELECT {cols}, epoch_us(ingest_ts) AS vf,
               coalesce(lead(epoch_us(ingest_ts)) OVER w,
                        epoch_us(TIMESTAMP '{SCD2_SENTINEL}')) AS vt,
               CASE WHEN lead(ingest_ts) OVER w IS NULL THEN 'Y' ELSE 'N' END AS act
        FROM src WINDOW w AS (PARTITION BY l_orderkey, l_linenumber ORDER BY ingest_ts)"""
    got = f"""SELECT {cols}, epoch_us({VALID_FROM}) AS vf, epoch_us({VALID_TO}) AS vt,
                     {ACTIVE} AS act FROM got"""
    diff = _sym_diff(con, got, expected)
    bad_active = con.execute(f"""
        SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM got
        GROUP BY 1, 2 HAVING count(*) FILTER (WHERE {ACTIVE} = 'Y') <> 1)""").fetchone()[0]
    closed = con.execute(f"SELECT count(*) FROM got WHERE {ACTIVE} = 'N'").fetchone()[0]
    return diff + bad_active + abs(closed - updated_keys)


# -- stream_upsert -----------------------------------------------------------

EVENT_COLS = ("user_id", "file_seq", "score", "country", "visits")


def upsert_mismatches(table_files: Sequence[str], landed_files: Sequence[str]) -> int:
    """The table must hold exactly the last row per key in landing order."""
    con = duckdb.connect()
    cols = ", ".join(EVENT_COLS)
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet({_files(landed_files)})")
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet({_files(table_files)})")
    expected = f"""SELECT {cols} FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY file_seq DESC) AS rn
        FROM src) WHERE rn = 1"""
    return _sym_diff(con, f"SELECT {cols} FROM got", expected)


# -- corpus_curation ---------------------------------------------------------

_NORM = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
         " ' +', ' ', 'g'))")


def exact_dedup_mismatches(docs_file: str, got: Sequence[tuple]) -> int:
    """``got``: (content_md5, doc_id, n_dups) rows from ``exact_dedup``."""
    import pyarrow as pa

    con = duckdb.connect()
    rows = list(zip(*got)) if got else [[], [], []]
    con.register("got", pa.table({"h": pa.array(rows[0], pa.string()),
                                  "id": pa.array(rows[1], pa.int64()),
                                  "n": pa.array(rows[2], pa.int64())}))
    want = f"""SELECT md5({_NORM}) AS h, min(doc_id) AS id, count(*) AS n
               FROM read_parquet('{docs_file}') GROUP BY 1"""
    return _sym_diff(con, "SELECT h, id, n FROM got", want)


def gopher_keep_count(docs_file: str, survivor_ids: Sequence[int] | None = None) -> int:
    """Documents passing the default Gopher battery (40..100000 words, mean
    word length 3..10, >= 2 distinct stopwords, top word share <= 0.08),
    over the exact-dedup survivors when ``survivor_ids`` is given."""
    import pyarrow as pa

    con = duckdb.connect()
    where = ""
    if survivor_ids is not None:
        con.register("ids", pa.table({"doc_id": pa.array(list(survivor_ids), pa.int64())}))
        where = "WHERE doc_id IN (SELECT doc_id FROM ids)"
    stop = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return con.execute(f"""
        WITH t AS (SELECT doc_id, {_NORM} AS norm FROM read_parquet('{docs_file}') {where}),
        k AS (SELECT doc_id, norm,
                     CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split(norm, ' ') END AS toks FROM t),
        w AS (SELECT doc_id, unnest(toks) AS w FROM k),
        top AS (SELECT doc_id, max(c) AS c FROM
                  (SELECT doc_id, w, count(*) AS c FROM w GROUP BY ALL) GROUP BY doc_id),
        m AS (SELECT len(toks) AS n,
                     CAST(length(norm) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mwl,
                     len(list_intersect(list_distinct(toks), {stop})) AS ns,
                     CAST(top.c AS DOUBLE) / len(toks) AS share
              FROM k JOIN top USING (doc_id))
        SELECT count(*) FROM m WHERE n >= 40 AND n <= 100000 AND mwl >= 3.0
          AND mwl <= 10.0 AND ns >= 2 AND share <= 0.08""").fetchone()[0]
