"""Row-level DML on the TableStore: DELETE, UPDATE and MERGE with
copy-on-write file rewrite — the Delta ``DELETE FROM`` / ``UPDATE`` /
``MERGE INTO`` surface the reference gets from Delta Lake (its SCD writers
assume it exists underneath; ``core/execution/write.py`` merges are the
row-level path it actually exercises). Each statement is a transform over
the store's one copy-on-write commit, ``TableStore._rewrite``.

Scale design: a DELETE that touches 0.1% of a 100 TB table must not rewrite
100 TB. Every operator prunes with the same file-level min/max + hive
partition statistics ``read_where`` uses (``store/skipping.py``):

- files whose stats provably exclude the predicate are **hard-linked** into
  the new version (the metadata-only file re-add a cloud table format does);
- only candidate files are scanned, filtered/transformed, and rewritten —
  one Spark job over the touched subset;
- row counts for the commit metrics come from parquet footers, not scans.

Files lacking stats are always treated as candidates — pruning is an
optimization, never a correctness filter.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from projectone_spark.store import ConcurrentWriteError, TableStore
from projectone_spark.store.skipping import (
    _validate_predicates,
    predicates_to_sql,
)


def _snapshot(store: TableStore, name: str, operation: str,
              expected_version: int | None) -> dict:
    """The manifest a DML statement rewrites (``TableStore._rewrite`` pins
    it). ``expected_version`` is the version the caller prepared against
    (e.g. the manifest a ``manifest_extra`` stamp was read from): a commit
    that landed in between raises here instead of re-publishing stale
    metadata over the newer contents."""
    m = store.manifest(name)
    if m is None:
        raise FileNotFoundError(f"table '{name}' does not exist")
    if expected_version is not None and m["version"] != expected_version:
        raise ConcurrentWriteError(
            f"table '{name}' is at version {m['version']}, but this "
            f"{operation} was prepared against version "
            f"{expected_version}; re-read and retry")
    return m


def delete_where(store: TableStore, spark: SparkSession, name: str,
                 predicates: Sequence[tuple[str, str, object]],
                 manifest_extra: dict | None = None,
                 txn: tuple[str, int] | None = None,
                 expected_version: int | None = None) -> int | None:
    """``DELETE FROM name WHERE <predicates>`` (conjunctive
    ``(col, op, literal)`` terms, the same form ``read_where`` takes).
    Copy-on-write: only files that may contain matching rows are rewritten
    without them. Returns the committed version, or None when file stats
    prove no row matches (no commit, exactly like a no-op Delta DELETE
    that prunes every file). Rows whose predicate is NULL are kept, as in
    SQL."""
    m = _snapshot(store, name, "delete", expected_version)
    # materialize any generator-valued 'in' once: the SQL render and the
    # file pruning both consume the list
    predicates = _validate_predicates(predicates)
    residual = predicates_to_sql(predicates)
    return store._rewrite(
        spark, name, m, predicates,
        lambda df: df.filter(f"({residual}) IS NOT TRUE"), "delete",
        metrics={"predicate": residual}, txn=txn,
        manifest_extra=manifest_extra)


def update_where(store: TableStore, spark: SparkSession, name: str,
                 predicates: Sequence[tuple[str, str, object]],
                 assignments: Mapping[str, str]) -> int | None:
    """``UPDATE name SET col = expr, ... WHERE <predicates>``. Assignment
    values are SQL expressions evaluated against the matching row (e.g.
    ``{"o_comment": "upper(o_comment)"}``). Non-matching rows in touched
    files are rewritten unchanged; untouched files are hard-linked."""
    bad = [c for c in assignments if c.startswith("__")]
    if bad:
        raise ValueError(f"cannot assign metadata columns: {bad}")
    m = _snapshot(store, name, "update", None)
    predicates = _validate_predicates(predicates)
    residual = predicates_to_sql(predicates)

    def apply(df: DataFrame) -> DataFrame:
        missing = [c for c in assignments if c not in df.columns]
        if missing:
            raise ValueError(f"unknown columns in SET: {missing}")
        cond = F.expr(residual)
        return df.withColumns({
            c: F.when(cond, F.expr(e)).otherwise(F.col(c))
            for c, e in assignments.items()})

    return store._rewrite(spark, name, m, predicates, apply, "update",
                          metrics={"predicate": residual})


def merge_into(store: TableStore, spark: SparkSession, name: str,
               source: DataFrame, keys: Sequence[str], *,
               when_matched_update: Mapping[str, str] | None = None,
               matched_condition: str | None = None,
               when_matched_delete: str | bool = False,
               when_not_matched_insert: bool = True,
               not_matched_condition: str | None = None,
               when_not_matched_by_source_delete: str | bool = False,
               schema_evolution: bool = False,
               txn: tuple[str, int] | None = None,
               manifest_extra: dict | None = None,
               expected_version: int | None = None,
               ) -> int | None:
    """General ``MERGE INTO`` (Delta ``DeltaTable.merge`` surface — the
    reference's SCD writers are specializations of this; ``scd1/2/3`` in
    ``writers.merge`` stay the metadata-stamped forms).

    Equi-merge on ``keys``. Clause semantics match Delta:

    - matched + ``when_matched_delete`` condition true → row removed;
    - matched + ``matched_condition`` true → assignments in
      ``when_matched_update`` applied (``source.col`` / ``target.col``
      qualifiers available in expressions; default updates every common
      column to the source value);
    - source-only + ``not_matched_condition`` true → inserted when
      ``when_not_matched_insert``;
    - target-only → kept, unless ``when_not_matched_by_source_delete``
      (condition or True) says delete;
    - a target row matching MULTIPLE source rows raises, exactly like
      Delta's duplicate-match error;
    - source columns absent from the target raise unless
      ``schema_evolution`` (Delta autoMerge): then they are appended to
      the table schema (null for rows the source doesn't supply), and the
      whole snapshot is rewritten so it stays schema-uniform — file
      pruning is disabled for that one commit.

    Scale: when no not-matched-by-source clause is present, target files
    whose key-range stats provably exclude every source key are
    hard-linked untouched (Delta MERGE's file pruning); only candidate
    files join the source. The source is scanned twice (bounds + join) —
    checkpoint upstream if its lineage is expensive.
    """
    m = _snapshot(store, name, "merge", expected_version)
    keys = list(keys)
    tgt_probe = store.read(spark, name, snapshot=m)
    missing = [k for k in keys if k not in tgt_probe.columns or k not in source.columns]
    if missing:
        raise ValueError(f"merge keys missing from source or target: {missing}")

    evolving = [c for c in source.columns if c not in tgt_probe.columns]
    if evolving and not schema_evolution:
        raise ValueError(
            f"source has columns absent from target: {evolving}; pass "
            f"schema_evolution=True to add them (Delta autoMerge)")

    nmbs = when_not_matched_by_source_delete
    predicates: list[tuple[str, str, object]] = []
    if not nmbs and not evolving:
        # file pruning: [min, max] of each source key bounds the target
        # rows that can possibly match; everything outside is untouched
        bounds = source.agg(*[f for k in keys
                              for f in (F.min(k).alias(f"lo_{k}"),
                                        F.max(k).alias(f"hi_{k}"))]).first()
        if bounds[0] is None:  # empty source: nothing matches, nothing inserts
            return None
        for k in keys:
            predicates.append((k, ">=", bounds[f"lo_{k}"]))
            predicates.append((k, "<=", bounds[f"hi_{k}"]))

    def apply(tgt: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        if evolving:
            # new columns append at the end, null where the source has no
            # row — then the merge below treats them like any shared column
            tgt = tgt.withColumns({
                c: F.lit(None).cast(source.schema[c].dataType)
                for c in evolving})
        cols = tgt.columns
        # per-source-key row count, computed on the source BEFORE the join
        # (same key partitioning the join needs, no post-join window): a
        # matched pair whose source key occurs >1 times means one target
        # row would take two updates — Delta's duplicate-match error
        s = (source
             .withColumn("__scnt",
                         F.count(F.lit(1)).over(Window.partitionBy(*keys)))
             .withColumn("__s_exists", F.lit(True)).alias("source"))
        # presence flags, not key-null checks: merge keys may themselves be
        # NULL and eqNullSafe matches them
        t = tgt.withColumn("__t_exists", F.lit(True)).alias("target")
        cond = None
        for k in keys:
            term = F.col(f"source.{k}").eqNullSafe(F.col(f"target.{k}"))
            cond = term if cond is None else cond & term
        joined = t.join(s, cond, "full_outer")

        is_matched = (F.col("source.__s_exists").isNotNull()
                      & F.col("target.__t_exists").isNotNull())
        source_only = F.col("target.__t_exists").isNull()
        target_only = F.col("source.__s_exists").isNull()

        upd = dict(when_matched_update) if when_matched_update is not None \
            else {c: f"source.{c}" for c in cols if c in source.columns}
        m_cond = F.expr(matched_condition) if matched_condition else F.lit(True)
        del_cond = (F.lit(False) if when_matched_delete is False
                    else F.lit(True) if when_matched_delete is True
                    else F.expr(when_matched_delete))
        ins_cond = F.expr(not_matched_condition) if not_matched_condition \
            else F.lit(True)
        nmbs_cond = (F.lit(False) if nmbs is False
                     else F.lit(True) if nmbs is True else F.expr(nmbs))

        keep = ~(
            (is_matched & del_cond)
            | (source_only & ~(F.lit(when_not_matched_insert) & ins_cond))
            | (target_only & nmbs_cond))

        dup = is_matched & (F.col("source.__scnt") > 1)
        guard_msg = ("MERGE: a target row matched multiple source rows; "
                     "deduplicate the source on the merge keys")
        out_cols = []
        for i, c in enumerate(cols):
            if c in upd:
                val = (F.when(is_matched & ~del_cond & m_cond, F.expr(upd[c]))
                       .when(source_only, F.col(f"source.{c}"))
                       .otherwise(F.col(f"target.{c}")))
            elif c in source.columns:
                val = (F.when(source_only, F.col(f"source.{c}"))
                       .otherwise(F.col(f"target.{c}")))
            else:
                val = F.col(f"target.{c}")
            if i == 0:
                # folded into an OUTPUT column so column pruning can never
                # elide the check; raises only for rows that violate it
                val = F.when(dup, F.raise_error(F.lit(guard_msg))).otherwise(val)
            out_cols.append(val.alias(c))
        return joined.filter(keep).select(*out_cols)

    # with every target file pruned, the merge runs over an empty target:
    # only the source-only inserts remain
    return store._rewrite(spark, name, m, predicates, apply, "merge",
                          adds_rows=when_not_matched_insert, txn=txn,
                          manifest_extra=manifest_extra)
