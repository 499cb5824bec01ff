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

``merge_into`` and the SCD writers (``writers.merge``) are clause sets over
one key merge, :func:`_key_merge`. A clause fires only where its condition
is TRUE, and ``merge_into`` matches keys NULL-safely.
"""

from __future__ import annotations

import json
from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from projectone_spark.store import ConcurrentWriteError, TableStore
from projectone_spark.store.skipping import (
    _validate_predicates,
    predicates_to_sql,
    sql_ident,
)


def _snapshot(store: TableStore, name: str, operation: str,
              expected_version: int | None) -> dict:
    """The manifest a DML statement rewrites (``TableStore._rewrite`` pins
    it). ``expected_version`` is the version the caller prepared against
    (e.g. the manifest a ``manifest_extra`` stamp was read from): a commit
    that landed in between raises here instead of re-publishing stale
    metadata over the newer contents."""
    m = store.snapshot(name)
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
            c: F.when(cond, F.expr(e)).otherwise(F.col(sql_ident(c)))
            for c, e in assignments.items()})

    return store._rewrite(spark, name, m, predicates, apply, "update",
                          metrics={"predicate": residual})


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


def _key_merge(source: DataFrame, target: DataFrame, on: str,
               clauses: Sequence[tuple[str | None, Sequence[str]]], *,
               stamps: Mapping[str, Column] | None = None,
               hash_source: bool = False) -> DataFrame:
    """The engine's one key merge: ``source`` full-outer joined with
    ``target`` on the SQL condition ``on``. Each clause ``(when,
    projection)`` emits the row ``projection`` (``expr AS name`` SQL over
    ``source.*`` / ``target.*``) for every joined pair where ``when`` is
    TRUE (None: always). One clause is a filter and one :func:`_project`;
    several leave through a code-generated ``explode(array(CASE WHEN when
    THEN struct(...) END, ...))`` and ``IS NOT NULL``. ``stamps`` are
    ``Column`` values without SQL text, added once to the joined frame for
    the clauses to reference; ``hash_source`` makes the source the hash
    join's build side."""
    src = source.hint("shuffle_hash") if hash_source else source
    joined = src.alias("source").join(target.alias("target"), F.expr(on),
                                      "full_outer")
    if stamps:
        joined = joined.withColumns(dict(stamps))
    if len(clauses) == 1:
        (when, projection), = clauses
        return _project(joined if when is None else joined.filter(when),
                        projection)
    rows = ", ".join(f"CASE WHEN {when} THEN struct({', '.join(proj)}) END"
                     for when, proj in clauses)
    return (joined.selectExpr(f"explode(array({rows})) AS r")
            .filter("r IS NOT NULL").selectExpr("r.*"))


def _is_true(cond: str | bool) -> str:
    """A clause condition as SQL that is never NULL: a NULL condition
    does not fire its clause, as in Delta."""
    if isinstance(cond, bool):
        return "true" if cond else "false"
    return f"(({cond}) IS TRUE)"


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
    """General ``MERGE INTO`` (Delta ``DeltaTable.merge`` surface): one
    clause set over :func:`_key_merge`, the key merge the SCD writers in
    ``writers.merge`` also use.

    Equi-merge on ``keys``, NULL-safe (a NULL source key matches a NULL
    target key). Clause semantics match Delta, and a clause fires only
    where its condition is TRUE, never where it is NULL:

    - matched + ``when_matched_delete`` condition → row removed;
    - matched, not deleted, + ``matched_condition`` → assignments in
      ``when_matched_update`` applied (``source.col`` / ``target.col``
      qualifiers available in expressions; default updates every common
      column to the source value);
    - source-only + ``not_matched_condition`` → inserted when
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
    files join the source. A key the source holds a NULL in prunes
    nothing: file stats do not say where NULL keys are. The source is
    scanned twice (bounds + join) — checkpoint upstream if its lineage is
    expensive. An empty source returns None and commits nothing.
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
    unknown = [c for c in when_matched_update or ()
               if c not in tgt_probe.columns + evolving]
    if unknown:
        raise ValueError(f"unknown columns in SET: {unknown}")

    q = sql_ident
    predicates: list[tuple[str, str, object]] = []
    if not when_not_matched_by_source_delete and not evolving:
        # file pruning: [min, max] of each source key bounds the target
        # rows that can possibly match; everything outside is untouched
        bounds = _project(source, ["count(1)", *(
            f"{agg}({q(k)})" for k in keys for agg in ("count", "min", "max"))]
        ).first()
        if bounds[0] == 0:  # empty source: nothing matches, nothing inserts
            return None
        for i, k in enumerate(keys):
            non_null, lo, hi = bounds[1 + 3 * i:4 + 3 * i]
            if non_null == bounds[0]:
                predicates += [(k, ">=", lo), (k, "<=", hi)]

    # presence flags, not key-null checks: merge keys may themselves be NULL
    matched = "(source.__s_exists IS NOT NULL AND target.__t_exists IS NOT NULL)"
    source_only = "target.__t_exists IS NULL"
    deleted = _is_true(when_matched_delete)
    updated = (f"({matched} AND NOT {deleted} "
               f"AND {_is_true(matched_condition or True)})")
    inserted = _is_true(when_not_matched_insert and (not_matched_condition or True))
    keep = (f"NOT (({matched} AND {deleted}) "
            f"OR ({source_only} AND NOT {inserted}) OR (source.__s_exists IS NULL "
            f"AND {_is_true(when_not_matched_by_source_delete)}))")
    src = _project(source, ["*", "true AS __s_exists", "count(1) OVER "
                            f"(PARTITION BY {', '.join(map(q, keys))}) AS __scnt"])
    on = " AND ".join(f"source.{q(k)} <=> target.{q(k)}" for k in keys)

    def apply(tgt: DataFrame) -> DataFrame:
        # new columns append at the end, NULL where the source has no row
        cols = tgt.columns + evolving
        upd = when_matched_update if when_matched_update is not None \
            else {c: f"source.{q(c)}" for c in cols if c in source.columns}
        exprs = []
        for c in cols:
            val = "NULL" if c in evolving else f"target.{q(c)}"
            if c in source.columns:
                val = f"CASE WHEN {source_only} THEN source.{q(c)} ELSE {val} END"
            if c in upd:
                val = f"CASE WHEN {updated} THEN ({upd[c]}) ELSE {val} END"
            exprs.append(val)
        # a source key occurring twice in a matched pair means two updates
        # of one target row: Delta's duplicate-match error, folded into an
        # OUTPUT column so column pruning can never elide it
        exprs[0] = (f"CASE WHEN {matched} AND source.__scnt > 1 THEN "
                    f"raise_error('MERGE: a target row matched multiple source "
                    f"rows; deduplicate the source on the merge keys') "
                    f"ELSE {exprs[0]} END")
        return _key_merge(src, _project(tgt, ["*", "true AS __t_exists"]), on,
                          [(keep, list(map(_as, exprs, cols)))])

    # with every target file pruned, the merge runs over an empty target:
    # only the source-only inserts remain
    return store._rewrite(spark, name, m, predicates, apply, "merge",
                          adds_rows=when_not_matched_insert, txn=txn,
                          manifest_extra=manifest_extra)
