"""SCD1/2/3 merges as ``(source, target) -> new_target`` DataFrame
functions: clause sets over the store's one key merge.

Re-expresses the reference's Delta ``MERGE`` clause sets
(``core/execution/write.py:320-544`` scd1, ``:547-1010`` scd2, ``:27-317``
scd3) as pure snapshot transforms; :mod:`projectone_spark.writers` commits
the result through ``TableStore._rewrite``. Each merge hands
:func:`projectone_spark.store.dml._key_merge` (the full outer join
``merge_into`` also uses) an ``on`` condition over the key hash and its
``(when, projection)`` clauses as SQL text:

- one shuffle per merge whatever the clause count; change detection
  compares precomputed row hashes, not N column pairs (reference
  ``write.py:103-140``); ``algo="xxhash64"`` makes the key a long;
- SCD1 and SCD3 are one clause: every joined pair emits one row;
- SCD2 is two, the surviving target row and the new source version, and
  also joins on ``target.active = 'Y'``: closed history passes through
  unmatched, so the target is scanned once and, with the source as the
  hash-build side, never sorted.

Plan-construction rule: one SQL expression per output column, identifiers
quoted by ``hashing.sql_ident``; never one ``Column`` per column per side
(each ``Column`` node is one py4j round trip: a 9-column SCD2 once cost
~1,500 calls to build). A projection crosses to the JVM as one string
(``dml._project``), so a merge builds in a fixed few dozen calls.
``Column``-typed arguments (``now``, ``valid_from``, ``history_start``)
have no SQL text; each is stamped once as a column the SQL references,
and the optimizer folds it back in.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from projectone_spark.store import _assigned
from projectone_spark.store.dml import _as, _key_merge, _project
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

#: Internal column names: the stamped ``now`` / ``history_start`` arguments
#: the SQL text refers to.
_NOW = "__metadata_now__"
_HISTORY_START = "__metadata_history_start__"

_KH, _DH, _CKH = sql_ident(KEY_HASH), sql_ident(DATA_HASH), sql_ident(COLUMN_KEY_HASH)
_VF, _VT, _ACTIVE = sql_ident(VALID_FROM), sql_ident(VALID_TO), sql_ident(ACTIVE)
_ON = f"source.{_KH} = target.{_KH}"
_S_PRESENT = f"source.{_KH} IS NOT NULL"
_T_PRESENT = f"target.{_KH} IS NOT NULL"
#: key on both sides, data hash differs
_CHANGED = f"({_S_PRESENT} AND {_T_PRESENT} AND source.{_DH} != target.{_DH})"


def _bind_now(now: Column | None) -> tuple[dict[str, Column], str]:
    """``(stamps, sql)`` for the ``now`` argument: ``current_timestamp()``
    when it is None, else a reference to ``now`` stamped as a column."""
    if now is None:
        return {}, "current_timestamp()"
    return {_NOW: now}, sql_ident(_NOW)


def _prep_source(source: DataFrame, key_cols: Sequence[str],
                 data_cols: Sequence[str] | None, dedup_on_keys: bool,
                 algo: str, target: DataFrame | None = None,
                 tracked_cols: Sequence[str] = (),
                 partition_by: Sequence[str] = ()) -> DataFrame:
    """``source`` with its key, data and (SCD3) tracked-column hashes.
    Against a target they hash each value as the commit stores it (store
    assignment to the target's types, misfit error included), so stored
    rows resent in another type are unchanged; the merged columns keep
    the source's values. Its ``partition_by`` columns hash as sent, as
    stored: their read-back types come from directory names."""
    src = source
    if dedup_on_keys:
        # reference `deduplicate_onkeys` (write.py:257-259, 488-491, 769-771)
        src = src.dropDuplicates(list(key_cols))
    if data_cols is None:  # resolve on `source`, whose schema is cached
        data_cols = data_columns(source, key_cols)
    hashed = {*key_cols, *data_cols, *tracked_cols}
    stored = {} if target is None else _assigned(
        [f for f in source.schema.fields if f.name in hashed],
        target.schema, partition_by, "SCD merge")
    tmp = {c: f"__stored_{c}__" for c in stored}
    if tmp:
        src = src.withColumns({tmp[c]: v for c, v in stored.items()})
    src = with_key_data_hashes(src, [tmp.get(c, c) for c in key_cols],
                               [tmp.get(c, c) for c in data_cols], algo)
    if tracked_cols:
        src = src.withColumn(COLUMN_KEY_HASH, row_hash(
            [tmp.get(c, c) for c in tracked_cols], algo))
    return src.drop(*tmp.values()) if tmp else src


def _pick(cond: str, cols: Sequence[str]) -> list[str]:
    """``CASE WHEN cond THEN source.c ELSE target.c END AS c`` per column."""
    return [_as(f"CASE WHEN {cond} THEN source.{sql_ident(c)} "
                f"ELSE target.{sql_ident(c)} END", c) for c in cols]


def scd1_merge(source: DataFrame, target: DataFrame | None,
               key_cols: Sequence[str], *,
               data_cols: Sequence[str] | None = None,
               dedup_on_keys: bool = False,
               now: Column | None = None,
               algo: str = "md5",
               partition_by: Sequence[str] = ()) -> DataFrame:
    """SCD1 upsert: matched-and-changed rows take source values, unmatched
    source rows insert, everything else keeps the target row.

    Output schema: payload + key_hash, data_hash, ``__metadata_valid_from_ts__``.
    ``now`` defaults to ``current_timestamp()``; pass a literal for
    deterministic tests. ``partition_by`` is the target's partition spec.
    """
    src = _prep_source(source, key_cols, data_cols, dedup_on_keys, algo,
                       target, partition_by=partition_by)
    out_cols = [*key_cols, *data_columns(source, key_cols), KEY_HASH, DATA_HASH]
    stamps, now_sql = _bind_now(now)

    if target is None or not target.columns:
        return _project(src.withColumns(stamps) if stamps else src,
                        [*map(sql_ident, out_cols), _as(now_sql, VALID_FROM)])

    tgt = target
    if KEY_HASH not in tgt.columns:
        tgt = with_key_data_hashes(tgt, key_cols, data_cols, algo)
    if VALID_FROM not in tgt.columns:
        tgt = tgt.withColumn(VALID_FROM,
                             F.current_timestamp() if now is None else now)

    take_source = f"({_CHANGED} OR target.{_KH} IS NULL)"
    valid_from = f"CASE WHEN {take_source} THEN {now_sql} ELSE target.{_VF} END"
    return _key_merge(src, tgt, _ON, [(None, [
        *_pick(take_source, out_cols), _as(valid_from, VALID_FROM)])],
        stamps=stamps)


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
               history_start: Column | None = None,
               partition_by: Sequence[str] = ()) -> DataFrame:
    """SCD2 history build: close changed rows, insert new versions.

    Implements the reference's flag taxonomy (``write.py:799-844``):
    I (new key) → insert active row; UI (key matched, data changed) → close
    the old row (``valid_to = source valid_from``, active 'N') and insert a
    new active row; D (no change) → keep. Closed history rows never match
    (the join also requires ``target.active = 'Y'``) and pass through
    unmatched. Exactly one active row per key is preserved (the reference's
    hardest invariant, ``write.py:547-1010``).

    ``valid_from`` is the event-time column/expression on the source
    (reference ``history_tracking_col``); defaults to ``current_timestamp()``.

    ``history_start`` (reference ``history_start_tracking_value[_type]``,
    ``write.py:849-863``): brand-new keys (flag I) open their first history
    row at this fixed literal instead of the source valid_from — initial
    loads then say "valid since epoch", not "valid since the load ran".
    Version-2 rows of existing keys are unaffected. ``partition_by`` is
    the target's partition spec.
    """
    if valid_from is None:
        vf = F.current_timestamp()
    else:
        vf = F.col(valid_from) if isinstance(valid_from, str) else valid_from
    sentinel_ts = f"CAST({sql_string(sentinel)} AS TIMESTAMP)"
    data_cols = _scd2_data_cols(source, key_cols, data_cols, valid_from)
    src = _prep_source(source, key_cols, data_cols, dedup_on_keys, algo,
                       target, partition_by=partition_by)
    src = src.withColumn(VALID_FROM, vf)
    out_cols = [*key_cols, *data_columns(source, key_cols), KEY_HASH, DATA_HASH]

    if target is None or not target.columns:
        if history_start is not None:
            src = src.withColumn(VALID_FROM, history_start)
        return _project(src, [*map(sql_ident, [*out_cols, VALID_FROM]),
                              _as(sentinel_ts, VALID_TO), _as("'Y'", ACTIVE)])

    stamps, new_vf = {}, f"source.{_VF}"
    if history_start is not None:
        stamps = {_HISTORY_START: history_start}
        new_vf = (f"CASE WHEN NOT ({_T_PRESENT}) "
                  f"THEN {sql_ident(_HISTORY_START)} ELSE {new_vf} END")
    insert_new = f"({_S_PRESENT} AND (NOT ({_T_PRESENT}) OR {_CHANGED}))"
    # Two clauses emit up to two rows per joined key: the surviving
    # target-side row (closed, unchanged or history) and the newly
    # inserted source-side row — the Spark-native equivalent of the
    # reference's dual-row unionByName trick (write.py:962-969).
    target_row = [
        *(_as(f"target.{sql_ident(c)}", c) for c in [*out_cols, VALID_FROM]),
        _as(f"CASE WHEN {_CHANGED} THEN source.{_VF} ELSE target.{_VT} END",
            VALID_TO),
        _as(f"CASE WHEN {_CHANGED} THEN 'N' ELSE target.{_ACTIVE} END", ACTIVE)]
    source_row = [*(_as(f"source.{sql_ident(c)}", c) for c in out_cols),
                  _as(new_vf, VALID_FROM),
                  _as(sentinel_ts, VALID_TO), _as("'Y'", ACTIVE)]
    return _key_merge(src, target, f"{_ON} AND target.{_ACTIVE} = 'Y'",
                      [(_T_PRESENT, target_row), (insert_new, source_row)],
                      stamps=stamps, hash_source=True)


def scd3_apply(source: DataFrame, target: DataFrame | None,
               key_cols: Sequence[str], tracked_cols: Sequence[str], *,
               data_cols: Sequence[str] | None = None,
               prev_prefix: str = "prev_",
               dedup_on_keys: bool = False,
               now: Column | None = None,
               algo: str = "md5",
               partition_by: Sequence[str] = ()) -> DataFrame:
    """SCD3: current snapshot plus ``prev_<col>`` columns for tracked columns.

    Mirrors the reference's two-clause MERGE (``write.py:278-293``):
    matched & tracked-column-hash changed → ``prev_c = CASE WHEN
    target.c <> source.c THEN target.c END`` and all data columns updated;
    matched & only untracked data changed → data updated, prev columns
    kept; unmatched source → insert with NULL prev; unmatched target →
    kept. ``partition_by`` is the target's partition spec.
    """
    src = _prep_source(source, key_cols, data_cols, dedup_on_keys, algo,
                       target, tracked_cols, partition_by)
    out_cols = [*key_cols, *data_columns(source, key_cols)]
    meta = [KEY_HASH, DATA_HASH, COLUMN_KEY_HASH]
    stamps, now_sql = _bind_now(now)

    if target is None or not target.columns:
        types = dict(source.dtypes)
        prevs = [_as(f"CAST(NULL AS {types[c]})", f"{prev_prefix}{c}")
                 for c in tracked_cols]
        return _project(src.withColumns(stamps) if stamps else src,
                        [*map(sql_ident, out_cols), *prevs,
                         *map(sql_ident, meta), _as(now_sql, VALID_FROM)])

    tracked_changed = (f"({_S_PRESENT} AND {_T_PRESENT} "
                       f"AND source.{_CKH} != target.{_CKH})")
    inserted = f"({_S_PRESENT} AND NOT ({_T_PRESENT}))"
    take_source = f"({inserted} OR {_CHANGED} OR {tracked_changed})"

    prevs = []
    for c in tracked_cols:
        q, pc = sql_ident(c), f"{prev_prefix}{c}"
        prevs.append(_as(
            f"CASE WHEN {tracked_changed} THEN "
            f"CASE WHEN target.{q} != source.{q} THEN target.{q} END "
            f"WHEN {_T_PRESENT} THEN target.{sql_ident(pc)} ELSE NULL END", pc))
    valid_from = f"CASE WHEN {take_source} THEN {now_sql} ELSE target.{_VF} END"
    return _key_merge(src, target, _ON, [(None, [
        *_pick(take_source, out_cols), *prevs, *_pick(take_source, meta),
        _as(valid_from, VALID_FROM)])], stamps=stamps)
