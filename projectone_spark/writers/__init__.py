"""Write engine: the reference's write types re-expressed over TableStore.

Write types (reference enum ``core/schemas/sources.py:77-85``):
``append``, ``overwrite``, ``selective_overwrite`` (declared-only in the
reference; implemented here with replaceWhere semantics), ``scd1``,
``scd2``, ``scd3`` plus the pre-write referential ``table_constraint``
check (``core/execution/write.py:1165-1189``).

Metadata stamping matches the reference (FIXTURES.md §2):
- append/overwrite add ``__metadata_valid_to_ts__`` (+ optional
  insert/update ts);
- scd1 adds key/data hash + valid_from;
- scd2 adds active flag + validity interval;
- scd3 adds prev_<col> + column-key hash.
All metadata columns are renameable (``rename_metadata_columns``) and the
scd2 active flag values remappable (``active_record_value_mapping``).

SCD1/2/3 are ``build(target, spec)`` transforms over one commit path,
:func:`_merge_write`: it creates a missing table, or rewrites an existing
one through ``TableStore._rewrite``, recorded as ``scd1``/``scd2``/``scd3``.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from projectone_spark.store import TableStore
from projectone_spark.writers.hashing import (
    ACTIVE,
    DATA_HASH,
    INSERT_TS,
    KEY_HASH,
    SCD2_SENTINEL,
    UPDATE_TS,
    VALID_FROM,
    VALID_TO,
    sql_ident,
    sql_string,
    with_key_data_hashes,
)
from projectone_spark.writers.merge import (
    _scd2_data_cols,
    scd1_merge,
    scd2_apply,
    scd3_apply,
)


class ConstraintViolation(Exception):
    """A referential table constraint failed pre-write."""


#: Hard cap on how many distinct partition values a pruned merge/overwrite may
#: collect to the driver. Real partition columns (day, region, tenant) sit far
#: below this; blowing past it means someone pointed pruning at a data column.
MAX_PARTITION_VALUES = 10_000


def _now(now: Column | None) -> Column:
    return now if now is not None else F.current_timestamp()


def rename_metadata_columns(df: DataFrame,
                            mapping: Mapping[str, str] | None) -> DataFrame:
    """Apply the reference's metadata-column rename option
    (``core/schemas/sources.py:151-155``)."""
    if not mapping:
        return df
    for old, new in mapping.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def _stamp_plain(df: DataFrame, *, now: Column | None,
                 upsert_ts: bool) -> DataFrame:
    out = df.withColumn(VALID_TO, _now(now))
    if upsert_ts:
        out = out.withColumn(INSERT_TS, _now(now)).withColumn(UPDATE_TS, _now(now))
    return out


def write_append(spark: SparkSession, store: TableStore, df: DataFrame,
                 table: str, *, partition_by: Sequence[str] | None = None,
                 now: Column | None = None, upsert_ts: bool = False,
                 rename: Mapping[str, str] | None = None) -> int:
    """Reference append (``write.py:1013-1086``)."""
    out = rename_metadata_columns(_stamp_plain(df, now=now, upsert_ts=upsert_ts), rename)
    return store.append(spark, out, table, partition_by)


def write_overwrite(spark: SparkSession, store: TableStore, df: DataFrame,
                    table: str, *, partition_by: Sequence[str] | None = None,
                    now: Column | None = None, upsert_ts: bool = False,
                    rename: Mapping[str, str] | None = None) -> int:
    """Reference overwrite (``write.py:1089-1162``)."""
    out = rename_metadata_columns(_stamp_plain(df, now=now, upsert_ts=upsert_ts), rename)
    return store.overwrite(spark, out, table, partition_by)


def write_selective_overwrite(spark: SparkSession, store: TableStore,
                              df: DataFrame, table: str, *,
                              replace_where: str | None = None,
                              partition_values: dict[str, list] | None = None,
                              partition_by: Sequence[str] | None = None,
                              now: Column | None = None,
                              rename: Mapping[str, str] | None = None) -> int:
    """replaceWhere overwrite — the write type the reference declares but
    never implemented (``sources.py:85``)."""
    out = rename_metadata_columns(_stamp_plain(df, now=now, upsert_ts=False), rename)
    return store.selective_overwrite(spark, out, table,
                                     replace_where=replace_where,
                                     partition_values=partition_values,
                                     partition_by=partition_by)


def _merge_write(spark: SparkSession, store: TableStore, table: str,
                 build: Callable[[DataFrame | None, list[str]], DataFrame],
                 operation: str, *,
                 partition_by: Sequence[str] | None = None,
                 rename: Mapping[str, str] | None = None,
                 prune: Callable[[list[str]], list] | None = None) -> int:
    """The one commit path of every key-merge write (SCD1/2/3).

    ``build(target, spec)`` returns the merged table (canonical metadata
    names) from the current target (None when absent) and its partition spec.
    The manifest is read once. A missing table is created by ``overwrite``
    pinned to "no table yet", so a concurrent creator makes it raise. An
    existing table is rewritten by ``TableStore._rewrite`` over that
    snapshot, recorded as ``operation``: a commit that lands in between
    raises ``ConcurrentWriteError``, the table keeps its partition spec,
    and the commit records its changed-file sets for ``read_changes``.
    ``prune(partition_spec)`` gives the pruning predicates; files they
    exclude are re-linked unread. Without it every file is read.
    """
    snapshot = store.manifest(table)
    if snapshot is None:
        return store.overwrite(
            spark, rename_metadata_columns(build(None, []), rename), table,
            partition_by, _expected_base=-1)
    spec = snapshot["partition_by"]
    if partition_by and list(partition_by) != spec:
        raise ValueError(
            f"{operation} on {table!r}: partition_by {list(partition_by)} "
            f"!= table {spec}; omit partition_by to keep the table's spec")
    canonical = {v: k for k, v in (rename or {}).items()}
    return store._rewrite(
        spark, table, snapshot, prune(spec) if prune else [],
        lambda cand: rename_metadata_columns(
            build(rename_metadata_columns(cand, canonical), spec), rename),
        operation, adds_rows=True)


def _partition_prune(df: DataFrame, table: str, partition_by: Sequence[str],
                     *, max_partition_values: int | None = None
                     ) -> list[tuple[str, str, list]]:
    """Merge-condition partition pruning (reference
    ``use_partition_attributes_in_merge``, SURVEY §4 "Merge join pruning"):
    one ``(col, "in", values)`` predicate per target partition column the
    source carries, with the source's distinct values. The caller rewrites
    only the files in those partitions (``TableStore._rewrite``); the rest
    re-link, metadata-only. At 100 TB this is the difference between
    rewriting a day and rewriting a decade.

    ``max_partition_values`` overrides the :data:`MAX_PARTITION_VALUES` cap
    for legitimately wide writes (e.g. a multi-year hourly backfill) without
    giving up pruning.
    """
    cap = MAX_PARTITION_VALUES if max_partition_values is None \
        else max_partition_values
    preds = []
    for p in [p for p in partition_by if p in df.columns]:
        # distinct partition values of the source: small by construction
        # (same cardinality class as a partition listing). The collect is
        # capped: a mistyped/high-cardinality partition column must fail
        # fast, not OOM the driver at scale.
        vals = [r[p] for r in
                df.select(p).distinct().limit(cap + 1).collect()]
        if len(vals) > cap:
            raise ValueError(
                f"partition pruning on {table!r}: source has more than "
                f"{cap} distinct values for partition column "
                f"{p!r} — this is not a partition column; write without "
                f"partition_prune, fix partition_by, or raise "
                f"max_partition_values for a wide backfill")
        if any(v is None for v in vals):
            # NULL can't round-trip through the prune: an IN predicate
            # never matches null-partition target rows and the store's
            # col=value directory key has no null spelling — fail loudly.
            raise ValueError(
                f"partition pruning on {table!r}: source has NULL values in "
                f"partition column {p!r} — nulls are not valid partition "
                f"prune values; clean the source or write without "
                f"partition_prune")
        preds.append((p, "in", vals))
    return preds


def write_scd1(spark: SparkSession, store: TableStore, df: DataFrame,
               table: str, *, key_cols: Sequence[str],
               data_cols: Sequence[str] | None = None,
               dedup_on_keys: bool = False, now: Column | None = None,
               partition_by: Sequence[str] | None = None,
               rename: Mapping[str, str] | None = None,
               algo: str = "md5",
               partition_prune: bool = False,
               max_partition_values: int | None = None) -> int:
    """SCD1 upsert. With ``partition_prune`` on a partitioned table, only
    the files in partitions holding source rows are read, merged and
    rewritten; the rest are re-linked (see :func:`_merge_write`)."""
    def build(target: DataFrame | None, spec: list[str]) -> DataFrame:
        return scd1_merge(df, target, key_cols, data_cols=data_cols,
                          dedup_on_keys=dedup_on_keys, now=now, algo=algo,
                          partition_by=spec)

    def prune(spec: list[str]) -> list[tuple[str, str, list]]:
        return _partition_prune(df, table, spec,
                                max_partition_values=max_partition_values)

    return _merge_write(spark, store, table, build, "scd1",
                        partition_by=partition_by, rename=rename,
                        prune=prune if partition_prune else None)


def write_scd2(spark: SparkSession, store: TableStore, df: DataFrame,
               table: str, *, key_cols: Sequence[str],
               data_cols: Sequence[str] | None = None,
               valid_from: Column | str | None = None,
               sentinel: str = SCD2_SENTINEL,
               dedup_on_keys: bool = False,
               fix_duplicates_by_key: bool = False,
               active_mapping: Mapping[str, str] | None = None,
               partition_by: Sequence[str] | None = None,
               rename: Mapping[str, str] | None = None,
               algo: str = "md5",
               history_start: Column | None = None) -> int:
    """SCD2 write. With ``fix_duplicates_by_key`` + an event-time
    ``valid_from`` column, a multi-version source batch is first compacted
    into a per-key history chain (reference window repair,
    ``write.py:875-960``): all but the newest version insert as closed
    rows, the newest goes through the normal merge."""
    # reference active_record_value_mapping (write.py:617-624): stored
    # flags map back to 'Y'/'N' for the merge, and out again after it
    y, n = (sql_string((active_mapping or {}).get(f, f)) for f in "YN")

    def build(target: DataFrame | None, spec: list[str]) -> DataFrame:
        if active_mapping and target is not None:
            target = target.withColumn(ACTIVE, F.expr(
                f"CASE WHEN {sql_ident(ACTIVE)} = {y} THEN 'Y' ELSE 'N' END"))
        if fix_duplicates_by_key:
            history, latest = scd2_compact(
                df, key_cols, data_cols=data_cols, valid_from=valid_from,
                sentinel=sentinel, algo=algo)
            merged = scd2_apply(latest, target, key_cols,
                                data_cols=data_cols, valid_from=valid_from,
                                sentinel=sentinel, dedup_on_keys=False,
                                algo=algo, history_start=history_start,
                                partition_by=spec)
            merged = merged.unionByName(history)
        else:
            merged = scd2_apply(df, target, key_cols, data_cols=data_cols,
                                valid_from=valid_from, sentinel=sentinel,
                                dedup_on_keys=dedup_on_keys, algo=algo,
                                history_start=history_start,
                                partition_by=spec)
        if active_mapping:
            merged = merged.withColumn(ACTIVE, F.expr(
                f"CASE WHEN {sql_ident(ACTIVE)} = 'Y' THEN {y} ELSE {n} END"))
        return merged

    return _merge_write(spark, store, table, build, "scd2",
                        partition_by=partition_by, rename=rename)


def scd2_compact(source: DataFrame, key_cols: Sequence[str], *,
                 data_cols: Sequence[str] | None = None,
                 valid_from: Column | str | None = None,
                 sentinel: str = SCD2_SENTINEL,
                 algo: str = "md5") -> tuple[DataFrame, DataFrame]:
    """Split a multi-version source batch into (closed-history, latest).

    Reference semantics (``write.py:875-960``): order versions per key by
    the tracking column, drop consecutive rows whose data hash didn't
    change (lag compare), chain ``valid_to = lead(valid_from)``, and mark
    only the last row per key active. Returns the closed older versions
    (stamped like target history rows) and the bare latest rows (to be
    merged normally).
    """
    vf = valid_from if isinstance(valid_from, Column) else F.col(valid_from)
    data_cols = _scd2_data_cols(source, key_cols, data_cols, valid_from)
    hashed = with_key_data_hashes(source, key_cols, data_cols, algo)
    hashed = hashed.withColumn(VALID_FROM, vf)
    dh, vf_sql = sql_ident(DATA_HASH), sql_ident(VALID_FROM)
    over = f"OVER (PARTITION BY {sql_ident(KEY_HASH)} ORDER BY {vf_sql} ASC)"
    hashed = (hashed
              .withColumn("__prev_hash", F.expr(f"lag({dh}) {over}"))
              .filter(f"__prev_hash IS NULL OR __prev_hash != {dh}")
              .drop("__prev_hash"))
    hashed = hashed.withColumn("__next_from",
                               F.expr(f"lead({vf_sql}) {over}"))
    latest = (hashed.filter("__next_from IS NULL")
              .drop("__next_from", KEY_HASH, DATA_HASH, VALID_FROM))
    history = (hashed.filter("__next_from IS NOT NULL")
               .withColumn(VALID_TO, F.col("__next_from"))
               .withColumn(ACTIVE, F.lit("N"))
               .drop("__next_from"))
    return history, latest


def write_scd3(spark: SparkSession, store: TableStore, df: DataFrame,
               table: str, *, key_cols: Sequence[str],
               tracked_cols: Sequence[str],
               data_cols: Sequence[str] | None = None,
               dedup_on_keys: bool = False, now: Column | None = None,
               partition_by: Sequence[str] | None = None,
               rename: Mapping[str, str] | None = None,
               algo: str = "md5") -> int:
    def build(target: DataFrame | None, spec: list[str]) -> DataFrame:
        return scd3_apply(df, target, key_cols, tracked_cols,
                          data_cols=data_cols, dedup_on_keys=dedup_on_keys,
                          now=now, algo=algo, partition_by=spec)

    return _merge_write(spark, store, table, build, "scd3",
                        partition_by=partition_by, rename=rename)


def check_table_constraints(spark: SparkSession, store: TableStore,
                            df: DataFrame,
                            constraints: Sequence[tuple[str, Sequence[str]]]) -> None:
    """Referential pre-write check (reference ``table_constraint``,
    ``write.py:1165-1189``): for each (dependent_table, join_cols), any
    source row with no match in the dependent table raises."""
    for dep_table, cols in constraints:
        dep = store.read(spark, dep_table).select(*cols)
        missing = df.join(dep, list(cols), "anti").limit(1).count()
        if missing:
            raise ConstraintViolation(
                f"rows in source have no match in '{dep_table}' on {list(cols)}")


#: write_type string → writer fn, mirroring the reference enum.
WRITERS = {
    "append": write_append,
    "overwrite": write_overwrite,
    "selective_overwrite": write_selective_overwrite,
    "scd1": write_scd1,
    "scd2": write_scd2,
    "scd3": write_scd3,
}
