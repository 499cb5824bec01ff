from __future__ import annotations

import math
import os
from datetime import date, datetime

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    from projectone_spark.session import get_spark
    spark = get_spark("projectone_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm_value(v):
    """Normalize a cell the way the driver's value-hash effectively does:
    timestamps → isoformat, floats → 9-decimal repr, NaN/None unified."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return f"{v:.9g}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def _from_pandas(v, is_date=False):
    """Convert a pandas/numpy cell to the plain-Python value it represents
    (numpy scalars → .item(), NaT → None, ndarray → list) so _norm_value
    sees the same type widths the driver's hash sees. ``is_date`` restores
    DuckDB DATE columns that pandas widened to midnight datetimes."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.ndarray):
        return [_from_pandas(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, pd.Timestamp):
        return v.date() if is_date else v.to_pydatetime()
    if is_date and isinstance(v, datetime):
        return v.date()
    return v


def normalize_frame(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def compare_spark_duckdb(spark_df, duck_con, sql):
    # Mirror the DRIVER's oracle path faithfully: BOTH sides go through
    # pandas. On the Spark side a nullable bigint widens to float64 under
    # toPandas exactly as it does for the driver, so the widening cancels
    # out; collect() would return Python ints and report a spurious
    # int-vs-float mismatch (q08's lag column).
    s_cols = spark_df.columns
    from pyspark.sql import types as T

    s_dates = {f.name for f in spark_df.schema.fields
               if isinstance(f.dataType, T.DateType)}
    s_pdf = spark_df.toPandas()
    s_rows = [tuple(_from_pandas(v, c in s_dates)
                    for c, v in zip(s_cols, row))
              for row in s_pdf.itertuples(index=False, name=None)]
    # The driver fetches DuckDB results through pandas/Arrow, where HUGEINT
    # (the result type of sum(BIGINT)) and DECIMAL widen to float64 — so
    # "567" becomes "567.0" and the value hash diverges even when every
    # value is numerically identical (this bit p03/p04 in round 3 while
    # fetchall()-based local parity stayed green). Fail loudly on those
    # types so the oracle gets an explicit CAST, then fetch via .df() like
    # the driver does.
    rel = duck_con.sql(sql)
    widened = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
               if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")]
    assert not widened, (
        f"oracle SQL returns pandas-widening types {widened}: these land as "
        f"float64 through the driver's pandas path and break the value hash "
        f"against Spark integers — CAST the column(s) to BIGINT/DOUBLE")
    pdf = rel.df()
    d_cols = list(pdf.columns)
    # pandas has no date dtype, so DuckDB DATE lands as midnight
    # datetime64; restore it from the relation's logical type (exact —
    # genuine midnight TIMESTAMPs stay timestamps).
    date_cols = {c for c, t in zip(rel.columns, rel.types) if str(t) == "DATE"}
    d_rows = [tuple(_from_pandas(v, c in date_cols)
                    for c, v in zip(d_cols, row))
              for row in pdf.itertuples(index=False, name=None)]
    sc, sr = normalize_frame(s_cols, s_rows)
    dc, dr = normalize_frame(d_cols, d_rows)
    assert sc == dc, f"column mismatch: spark={sc} duckdb={dc}"
    assert len(sr) == len(dr), f"row count: spark={len(sr)} duckdb={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  duckdb: {b}"


@pytest.fixture()
def degenerate_docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat"), (2, ""), (3, "!!! ???"), (4, None),
         (5, "cat cat the")],
        "doc_id bigint, text string")
