"""Pure SCD merge semantics as DataFrame -> DataFrame functions.

Re-expresses the reference's Delta ``MERGE``-based SCD1/2/3 writers
(``core/execution/write.py:320-544`` scd1, ``:547-1010`` scd2, ``:27-317``
scd3) as *pure snapshot transforms*: ``(source, target) -> new_target``.
This is the Spark-first shape — the physical write (Delta MERGE when
available, versioned-parquet swap otherwise) is a separate concern handled
by :mod:`projectone_spark.writers` / :mod:`projectone_spark.store`.

Scale notes:
- every variant is ONE full-outer join keyed on ``__metadata_key_hash__``
  (a single 32-byte/8-byte shuffle key), not per-branch joins — one shuffle
  per merge regardless of how many match-branches the SCD type has;
- SCD2 joins the whole target on the key AND ``t.active = 'Y'``: closed
  history never matches and passes through unmatched, so the target is
  scanned once and, with the source as hash-build side, never sorted.
  Rows leave through ``explode(array(...))`` and ``IS NOT NULL``; a lambda
  ``filter`` (``ArrayFilter``) has no generated code and runs interpreted;
- change detection compares precomputed row hashes, not N column pairs,
  so the join condition stays a cheap equi-compare (reference rationale:
  ``write.py:103-140``);
- with ``algo="xxhash64"`` the shuffle key is a long instead of a hex string.

Plan-construction rule: one SQL expression per output column; never one
``Column`` per column per side. Each ``Column`` node (``F.col``, ``when``,
``alias``, …) is one py4j round trip, which made building one 9-column
SCD2 plan cost ~1,500 JVM calls of driver time before any job ran. The
builders therefore write each output column as SQL
text, with every identifier quoted by ``hashing.sql_ident``, and ship a
whole projection to the JVM as one string (:func:`_project`), so building
a merge costs a fixed few dozen calls whatever the column count.
``Column``-typed arguments (``now``, ``valid_from``, ``history_start``)
have no SQL text; each is stamped once as a column the SQL references,
and the optimizer folds it back in.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from projectone_spark.writers.hashing import (
    ACTIVE,
    COLUMN_KEY_HASH,
    DATA_HASH,
    KEY_HASH,
    SCD2_SENTINEL,
    VALID_FROM,
    VALID_TO,
    data_columns,
    row_hash,
    sql_ident,
    sql_string,
    with_key_data_hashes,
)

#: Internal column names: the exploded SCD2 row struct, and the stamped
#: ``now`` / ``history_start`` arguments the SQL text refers to.
_ROW = "r"
_NOW = "__metadata_now__"
_HISTORY_START = "__metadata_history_start__"

_KH, _DH, _CKH = sql_ident(KEY_HASH), sql_ident(DATA_HASH), sql_ident(COLUMN_KEY_HASH)
_VF, _VT, _ACTIVE = sql_ident(VALID_FROM), sql_ident(VALID_TO), sql_ident(ACTIVE)
_S_PRESENT = f"s.{_KH} IS NOT NULL"
_T_PRESENT = f"t.{_KH} IS NOT NULL"
#: key on both sides, data hash differs
_CHANGED = f"({_S_PRESENT} AND {_T_PRESENT} AND s.{_DH} != t.{_DH})"


def _as(expr: str, name: str) -> str:
    return f"{expr} AS {sql_ident(name)}"


def _project(df: DataFrame, exprs: Sequence[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a fixed number of py4j calls.

    py4j hands a Python list to the JVM one ``add`` call per element, so
    the expressions cross as ONE JSON array that Spark's bundled Jackson
    decodes back into the ``java.util.List`` ``selectExpr`` takes.
    """
    jvm = df.sparkSession._jvm
    exprs_j = jvm.com.fasterxml.jackson.databind.ObjectMapper().readValue(
        json.dumps(list(exprs)), jvm.java.util.ArrayList._java_lang_class)
    return DataFrame(df._jdf.selectExpr(jvm.PythonUtils.toSeq(exprs_j)),
                     df.sparkSession)


def _bind_now(df: DataFrame, now: Column | None) -> tuple[DataFrame, str]:
    """SQL text for the ``now`` argument: ``current_timestamp()`` when it
    is None, else a reference to ``now`` stamped onto ``df`` (a literal or
    ``current_timestamp()`` folds back into the expressions that use it,
    so the stamp leaves the optimized plan as it was)."""
    if now is None:
        return df, "current_timestamp()"
    return df.withColumn(_NOW, now), sql_ident(_NOW)


def _prep_source(source: DataFrame, key_cols: Sequence[str],
                 data_cols: Sequence[str] | None, dedup_on_keys: bool,
                 algo: str) -> DataFrame:
    src = source
    if dedup_on_keys:
        # reference `deduplicate_onkeys` (write.py:257-259, 488-491, 769-771)
        src = src.dropDuplicates(list(key_cols))
    if data_cols is None:  # resolve on `source`, whose schema is cached
        data_cols = data_columns(source, key_cols)
    return with_key_data_hashes(src, key_cols, data_cols, algo)


def _join_on_key(src: DataFrame, tgt: DataFrame) -> DataFrame:
    return src.alias("s").join(tgt.alias("t"), F.expr(f"s.{_KH} = t.{_KH}"),
                               "full_outer")


def _pick(cond: str, cols: Sequence[str]) -> list[str]:
    """``CASE WHEN cond THEN s.c ELSE t.c END AS c`` for each column."""
    return [_as(f"CASE WHEN {cond} THEN s.{sql_ident(c)} "
                f"ELSE t.{sql_ident(c)} END", c) for c in cols]


def scd1_merge(source: DataFrame, target: DataFrame | None,
               key_cols: Sequence[str], *,
               data_cols: Sequence[str] | None = None,
               dedup_on_keys: bool = False,
               now: Column | None = None,
               algo: str = "md5") -> DataFrame:
    """SCD1 upsert: matched-and-changed rows take source values, unmatched
    source rows insert, everything else keeps the target row.

    Output schema: payload + key_hash, data_hash, ``__metadata_valid_from_ts__``.
    ``now`` defaults to ``current_timestamp()``; pass a literal for
    deterministic tests.
    """
    src = _prep_source(source, key_cols, data_cols, dedup_on_keys, algo)
    out_cols = [*key_cols, *data_columns(source, key_cols), KEY_HASH, DATA_HASH]

    if target is None or not target.columns:
        src, now_sql = _bind_now(src, now)
        return _project(src, [*map(sql_ident, out_cols),
                              _as(now_sql, VALID_FROM)])

    tgt = target
    if KEY_HASH not in tgt.columns:
        tgt = with_key_data_hashes(tgt, key_cols, data_cols, algo)
    if VALID_FROM not in tgt.columns:
        tgt = tgt.withColumn(VALID_FROM,
                             F.current_timestamp() if now is None else now)

    joined, now_sql = _bind_now(_join_on_key(src, tgt), now)
    take_source = f"({_CHANGED} OR t.{_KH} IS NULL)"
    valid_from = f"CASE WHEN {take_source} THEN {now_sql} ELSE t.{_VF} END"
    return _project(joined, [*_pick(take_source, out_cols),
                             _as(valid_from, VALID_FROM)])


def _scd2_data_cols(source: DataFrame, key_cols: Sequence[str],
                    data_cols: Sequence[str] | None,
                    valid_from: Column | str | None) -> Sequence[str] | None:
    """When the validity source is a named column (reference
    ``history_tracking_col``), it defines WHEN a version applies, not WHAT
    changed — exclude it from the default change-detection hash."""
    if data_cols is None and isinstance(valid_from, str):
        return [c for c in data_columns(source, key_cols) if c != valid_from]
    return data_cols


def scd2_apply(source: DataFrame, target: DataFrame | None,
               key_cols: Sequence[str], *,
               data_cols: Sequence[str] | None = None,
               valid_from: Column | str | None = None,
               sentinel: str = SCD2_SENTINEL,
               dedup_on_keys: bool = False,
               algo: str = "md5",
               history_start: Column | None = None) -> DataFrame:
    """SCD2 history build: close changed rows, insert new versions.

    Implements the reference's flag taxonomy (``write.py:799-844``):
    I (new key) → insert active row; UI (key matched, data changed) → close
    the old row (``valid_to = source valid_from``, active 'N') and insert a
    new active row; D (no change) → keep. Closed history rows never match
    (the join also requires ``t.active = 'Y'``) and pass through unmatched.
    Exactly one active row per key is preserved (the reference's hardest
    invariant, ``write.py:547-1010``).

    ``valid_from`` is the event-time column/expression on the source
    (reference ``history_tracking_col``); defaults to ``current_timestamp()``.

    ``history_start`` (reference ``history_start_tracking_value[_type]``,
    ``write.py:849-863``): brand-new keys (flag I) open their first history
    row at this fixed literal instead of the source valid_from — initial
    loads then say "valid since epoch", not "valid since the load ran".
    Version-2 rows of existing keys are unaffected.
    """
    if valid_from is None:
        vf = F.current_timestamp()
    else:
        vf = F.col(valid_from) if isinstance(valid_from, str) else valid_from
    sentinel_ts = f"CAST({sql_string(sentinel)} AS TIMESTAMP)"
    data_cols = _scd2_data_cols(source, key_cols, data_cols, valid_from)
    src = _prep_source(source, key_cols, data_cols, dedup_on_keys, algo)
    src = src.withColumn(VALID_FROM, vf)
    out_cols = [*key_cols, *data_columns(source, key_cols), KEY_HASH, DATA_HASH]

    if target is None or not target.columns:
        if history_start is not None:
            src = src.withColumn(VALID_FROM, history_start)
        return _project(src, [*map(sql_ident, [*out_cols, VALID_FROM]),
                              _as(sentinel_ts, VALID_TO), _as("'Y'", ACTIVE)])

    joined = src.hint("shuffle_hash").alias("s").join(
        target.alias("t"), F.expr(f"s.{_KH} = t.{_KH} AND t.{_ACTIVE} = 'Y'"),
        "full_outer")
    new_vf = f"s.{_VF}"
    if history_start is not None:
        joined = joined.withColumn(_HISTORY_START, history_start)
        new_vf = (f"CASE WHEN NOT ({_T_PRESENT}) "
                  f"THEN {sql_ident(_HISTORY_START)} ELSE {new_vf} END")

    insert_new = f"({_S_PRESENT} AND (NOT ({_T_PRESENT}) OR {_CHANGED}))"

    # One pass emits up to two rows per joined key via explode of a struct
    # array: the surviving target-side row (closed, unchanged or history)
    # and the newly inserted source-side row — the Spark-native equivalent
    # of the reference's dual-row unionByName trick (write.py:962-969).
    def side_struct(side: str, valid_from_sql: str, valid_to_sql: str,
                    active_sql: str) -> str:
        fields = [*(_as(f"{side}.{sql_ident(c)}", c) for c in out_cols),
                  _as(valid_from_sql, VALID_FROM), _as(valid_to_sql, VALID_TO),
                  _as(active_sql, ACTIVE)]
        return f"struct({', '.join(fields)})"

    target_row = side_struct(
        "t", f"t.{_VF}",
        f"CASE WHEN {_CHANGED} THEN s.{_VF} ELSE t.{_VT} END",
        f"CASE WHEN {_CHANGED} THEN 'N' ELSE t.{_ACTIVE} END")
    source_row = side_struct("s", new_vf, sentinel_ts, "'Y'")
    return (joined
            .selectExpr(f"explode(array("
                        f"CASE WHEN {_T_PRESENT} THEN {target_row} END, "
                        f"CASE WHEN {insert_new} THEN {source_row} END)) "
                        f"AS {_ROW}")
            .filter(f"{_ROW} IS NOT NULL")
            .selectExpr(f"{_ROW}.*"))


def scd3_apply(source: DataFrame, target: DataFrame | None,
               key_cols: Sequence[str], tracked_cols: Sequence[str], *,
               data_cols: Sequence[str] | None = None,
               prev_prefix: str = "prev_",
               dedup_on_keys: bool = False,
               now: Column | None = None,
               algo: str = "md5") -> DataFrame:
    """SCD3: current snapshot plus ``prev_<col>`` columns for tracked columns.

    Mirrors the reference's two-clause MERGE (``write.py:278-293``):
    matched & tracked-column-hash changed → ``prev_c = CASE WHEN t.c <> s.c
    THEN t.c END`` and all data columns updated; matched & only untracked
    data changed → data updated, prev columns kept; unmatched source →
    insert with NULL prev; unmatched target → kept.
    """
    src = _prep_source(source, key_cols, data_cols, dedup_on_keys, algo)
    src = src.withColumn(COLUMN_KEY_HASH, row_hash(list(tracked_cols), algo))
    out_cols = [*key_cols, *data_columns(source, key_cols)]
    meta = [KEY_HASH, DATA_HASH, COLUMN_KEY_HASH]

    if target is None or not target.columns:
        types = dict(source.dtypes)
        prevs = [_as(f"CAST(NULL AS {types[c]})", f"{prev_prefix}{c}")
                 for c in tracked_cols]
        src, now_sql = _bind_now(src, now)
        return _project(src, [*map(sql_ident, out_cols), *prevs,
                              *map(sql_ident, meta), _as(now_sql, VALID_FROM)])

    joined, now_sql = _bind_now(_join_on_key(src, target), now)
    tracked_changed = f"({_S_PRESENT} AND {_T_PRESENT} AND s.{_CKH} != t.{_CKH})"
    inserted = f"({_S_PRESENT} AND NOT ({_T_PRESENT}))"
    take_source = f"({inserted} OR {_CHANGED} OR {tracked_changed})"

    prevs = []
    for c in tracked_cols:
        q, pc = sql_ident(c), f"{prev_prefix}{c}"
        prevs.append(_as(
            f"CASE WHEN {tracked_changed} THEN "
            f"CASE WHEN t.{q} != s.{q} THEN t.{q} END "
            f"WHEN {_T_PRESENT} THEN t.{sql_ident(pc)} ELSE NULL END", pc))
    valid_from = f"CASE WHEN {take_source} THEN {now_sql} ELSE t.{_VF} END"
    return _project(joined, [*_pick(take_source, out_cols), *prevs,
                             *_pick(take_source, meta),
                             _as(valid_from, VALID_FROM)])
