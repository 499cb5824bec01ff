"""Row-hash helpers for change detection in merges.

The reference computes ``md5(concat_ws("|", coalesce(cast(c as string), "")))``
over the key / data / tracked column sets (reference: ``core/execution/
write.py:103-140`` scd3, ``:393-417`` scd1, ``:647-687`` scd2). We keep the
identical md5 semantics for parity, and expose ``xxhash64`` as the fast
variant for the 100 TB path (cheaper, JVM-intrinsic, no hex-string
materialization — a long column shuffles ~4× less than a 32-char string).

Hashes are built as SQL expression text (one ``F.expr`` each), not as a
tree of ``Column`` objects: every ``Column`` node is one py4j round trip,
so a per-column tree costs the driver O(columns) JVM calls per hash.
:func:`sql_ident` (defined beside the store's predicate renderer,
``store.skipping``, and re-exported here) is the one quoting rule every
such string uses.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from projectone_spark.store.skipping import sql_ident

KEY_HASH = "__metadata_key_hash__"
DATA_HASH = "__metadata_data_hash__"
COLUMN_KEY_HASH = "__metadata_column_key_hash__"
VALID_FROM = "__metadata_valid_from_ts__"
VALID_TO = "__metadata_valid_to_ts__"
ACTIVE = "__metadata_active__"
INSERT_TS = "__metadata_insert_ts__"
UPDATE_TS = "__metadata_update_ts__"

#: Every metadata column the engine may stamp (reference METADATA_COLUMNS,
#: ``core/execution/write.py:15-24``).
METADATA_COLUMNS = (
    KEY_HASH, DATA_HASH, VALID_TO, VALID_FROM, ACTIVE, INSERT_TS, UPDATE_TS,
    COLUMN_KEY_HASH,
)

#: SCD2 open-row sentinel (reference ``write.py`` valid_to default).
SCD2_SENTINEL = "9999-12-31 00:00:00"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def row_hash(cols: Sequence[str], algo: str = "md5") -> Column:
    """Stable hash over a column set: NULL-safe, order-sensitive, type-erased.

    ``md5`` matches the reference bit-for-bit; ``xxhash64`` is the fast path.
    One ``F.expr``, whatever the column count.
    """
    parts = "".join(f", coalesce(cast({sql_ident(c)} as string), '')"
                    for c in cols)
    joined = f"concat_ws('|'{parts})"
    if algo == "xxhash64":
        return F.expr(f"xxhash64({joined})")
    return F.expr(f"md5(cast({joined} as binary))")


def with_key_data_hashes(df: DataFrame, key_cols: Sequence[str],
                         data_cols: Sequence[str] | None = None,
                         algo: str = "md5") -> DataFrame:
    """Stamp key/data hash columns; data_cols defaults to all non-key,
    non-metadata columns (reference behavior)."""
    if data_cols is None:
        data_cols = [c for c in df.columns
                     if c not in key_cols and c not in METADATA_COLUMNS]
    return (df
            .withColumn(KEY_HASH, row_hash(list(key_cols), algo))
            .withColumn(DATA_HASH, row_hash(list(data_cols), algo)))


def data_columns(df: DataFrame, key_cols: Sequence[str]) -> list[str]:
    """All payload columns: not key, not engine metadata."""
    return [c for c in df.columns if c not in key_cols and c not in METADATA_COLUMNS]
