"""Table maintenance: small-file compaction, old-version vacuum, and
schema-evolving appends — the Delta OPTIMIZE / VACUUM / mergeSchema trio.

At scale these are what keep a continuously-appended table queryable: every
micro-batch or incremental run adds a commit directory, and after a few
thousand commits the scan pays per-file open/footers/tasks costs that dwarf
the data read. The reference inherits all three from Delta Lake; the
TableStore implements them directly.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from projectone_spark.store import TableStore
from projectone_spark.store.skipping import sql_ident


def table_files(store: TableStore, name: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file in the current snapshot."""
    return [(f["path"], f["bytes"]) for f in store.snapshot(name)["files"]]


def _recluster(store: TableStore, spark: SparkSession, name: str, m: dict,
               operation: str, layout,
               stats_columns: Sequence[str] | None = None) -> int:
    """Rewrite snapshot ``m`` as ``layout(frame, partition_by)``, keeping
    the partition spec; the rewrite under ``compact`` and
    ``zorder_cluster``. The commit pins ``m``, so a concurrent commit
    makes it raise instead of dropping its rows."""
    if m.get("metrics", {}).get("bucket_by"):
        raise ValueError(
            f"table '{name}' is bucketed; re-bucket with "
            f"store.bucketing.write_bucketed instead of {operation} — a "
            f"plain rewrite would silently discard the bucket layout")
    part = m["partition_by"]
    df = layout(store.read(spark, name, snapshot=m), part)
    return store.overwrite(spark, df, name, partition_by=part or None,
                           stats_columns=stats_columns,
                           _operation=operation, _expected_base=m["version"])


def compact(store: TableStore, spark: SparkSession, name: str,
            target_file_bytes: int = 128 * 1024 * 1024,
            small_file_bytes: int | None = None) -> int | None:
    """Bin-pack the snapshot into ~``target_file_bytes`` files (Delta
    OPTIMIZE). No-op (returns None) when nothing is fragmented: fewer than
    2 files under ``small_file_bytes`` (default target/2).

    The rewrite is a single job: scan → repartition to
    ceil(total_bytes / target) → write. Partitioned tables keep their
    partition spec (files coalesce within partitions). At 100 TB this runs
    per-partition-predicate in practice; the store-level primitive is the
    same plan.
    """
    small = small_file_bytes if small_file_bytes is not None else target_file_bytes // 2
    m = store.snapshot(name)
    sizes = [f["bytes"] for f in m["files"]]
    if sum(1 for b in sizes if b < small) < 2:
        return None
    n_out = max(1, -(-sum(sizes) // target_file_bytes))
    return _recluster(
        store, spark, name, m, "compact",
        lambda df, part: df.repartition(n_out, *[F.col(c) for c in part]))


#: A data directory that no committed manifest names is a writer's
#: in-flight output until it is this old (seconds since it was last
#: modified); only then may vacuum collect it as a crashed write's
#: orphan. Delta's VACUUM retention check plays the same role.
UNCOMMITTED_MIN_AGE_S = 24 * 3600


def vacuum(store: TableStore, name: str, keep_versions: int = 2,
           retention_seconds: float | None = None) -> list[str]:
    """Delete data directories referenced ONLY by manifests older than the
    newest ``keep_versions`` AND (when ``retention_seconds`` is given)
    committed earlier than the retention horizon — Delta VACUUM's
    time-based retention, with a version floor so the current snapshot is
    never collectable. Time travel to vacuumed versions stops working,
    exactly like Delta. A directory no manifest names at all (written but
    not yet committed, or left by a crashed writer) is deleted only once
    it is older than ``UNCOMMITTED_MIN_AGE_S``, so a concurrent writer
    never commits a directory vacuum removed. A publish's tmp file
    (``<pointer>.tmp.<hex>``, left by a writer that died before its link)
    goes once it is that old too. Returns the removed paths."""
    import time as _time

    history = store.history(name)
    if not history:
        raise FileNotFoundError(f"table '{name}' does not exist")
    now = _time.time()
    cutoff = now - retention_seconds if retention_seconds is not None else None
    keep = {d for i, m in enumerate(history)
            if i < keep_versions
            or (cutoff is not None and m["committed_at"] >= cutoff)
            for d in m["dirs"]}
    committed = {d for m in history for d in m["dirs"]}
    dropped: list[str] = []
    tdir = store._table_dir(name)
    for entry in sorted(os.listdir(tdir)):
        p = os.path.join(tdir, entry)
        is_dir = os.path.isdir(p)
        if not (is_dir or ".tmp." in entry) or p in keep:
            continue
        if p not in committed and now - os.path.getmtime(p) < UNCOMMITTED_MIN_AGE_S:
            continue
        (shutil.rmtree if is_dir else os.remove)(p)
        dropped.append(p)
    return dropped


def restore(store: TableStore, name: str, version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF``: publish a NEW commit
    whose data directories are exactly those of the historical version —
    a metadata-only rollback (nothing is copied; restore-of-restore and
    time travel past the restore both keep working). The restored dirs
    become referenced by the current manifest again, so a later
    ``vacuum`` keeps them."""
    target = store._retained(name, version)
    # the restored contents are exactly the historical version's, so the
    # model/index stamps (if any) must be THAT version's — never the
    # pre-restore manifest's, which described different rows (r9 advice:
    # restore onto a saved model previously stripped the stamp permanently)
    extra = {k: target[k] for k in ("model", "index") if k in target} or None
    return store._commit(name, list(target["dirs"]),
                         list(target["partition_by"]), "restore",
                         {"restored_from": version},
                         stats_columns=list(target.get("stats_columns") or []),
                         set_columns=list(target.get("set_columns") or []),
                         files=list(target.get("files") or []),
                         manifest_extra=extra,
                         schemas=dict(target.get("schemas") or {}))


def clone(store: TableStore, name: str, target: str) -> int:
    """Delta ``CREATE TABLE ... CLONE``: snapshot ``name`` into a new
    independent table. The snapshot's data files are HARD-LINKED into the
    target table's own directory (metadata-only cost on one filesystem, the
    same trick ``TableStore._rewrite`` uses for untouched files), so vacuuming
    or dropping the source never breaks the clone — unlike a Delta
    shallow clone, which this otherwise matches in cost. A concurrent
    creator of ``target`` makes the commit raise ConcurrentWriteError."""
    m = store.snapshot(name)
    if store.exists(target):
        raise FileExistsError(f"table '{target}' already exists")
    from projectone_spark.store import _dir_of, _link_entries

    remap = {d: os.path.join(store._table_dir(target), os.path.basename(d))
             for d in m["dirs"]}
    for nd in remap.values():  # a dir of an empty write holds no file
        os.makedirs(nd, exist_ok=True)
    files = _link_entries([(_dir_of(m, f["path"]), f) for f in m["files"]],
                          remap.__getitem__)
    src_schemas = m.get("schemas") or {}
    return store._commit(target, list(remap.values()),
                         list(m["partition_by"]), "clone",
                         {"cloned_from": name, "source_version": m["version"]},
                         stats_columns=list(m.get("stats_columns") or []),
                         set_columns=list(m.get("set_columns") or []),
                         files=files, expected_base=-1,
                         schemas={remap[d]: src_schemas[d]
                                  for d in m["dirs"] if d in src_schemas})


def append_evolve(store: TableStore, spark: SparkSession, df: DataFrame,
                  name: str,
                  stats_columns: Sequence[str] | None = None) -> int:
    """Schema-evolving append (Delta ``mergeSchema``): new columns in ``df``
    are added to the table (old files read them as NULL via parquet schema
    merging); columns missing from ``df`` are appended as NULL. Type
    conflicts on a shared column raise rather than corrupt."""
    if not store.exists(name):
        return store.append(spark, df, name, stats_columns=stats_columns)
    current = store.read(spark, name)
    cur_types = dict(zip(current.schema.names,
                         [f.dataType for f in current.schema.fields]))
    new_types = dict(zip(df.schema.names,
                         [f.dataType for f in df.schema.fields]))
    for col in set(cur_types) & set(new_types):
        if cur_types[col] != new_types[col]:
            raise TypeError(
                f"append_evolve: column '{col}' is {cur_types[col].simpleString()} "
                f"in table '{name}' but {new_types[col].simpleString()} in the "
                f"incoming frame")
    for col, dtype in cur_types.items():
        if col not in new_types:
            df = df.withColumn(col, F.lit(None).cast(dtype))
    return store.append(spark, df, name, stats_columns=stats_columns)


#: Rank-bucket bits per column of a multi-column Z-order: 256 buckets, so
#: four columns interleave into a 32-bit z-value.
_ZORDER_BITS = 8

#: Types a multi-column Z-order ranks with ``percentile_approx``.
_ZORDER_TYPES = (T.NumericType, T.DateType, T.TimestampType,
                 T.TimestampNTZType)


def zorder_cluster(store: TableStore, spark: SparkSession, name: str,
                   columns: Sequence[str], target_files: int = 8) -> int:
    """Multi-column clustering rewrite — Delta's ``OPTIMIZE ZORDER BY``:
    the snapshot is rewritten ordered by the Morton (Z-order) interleave
    of each row's per-column rank buckets, so every output file covers a
    small HYPER-RECTANGLE of the key space and the per-file min/max
    stats (``skipping.prune_files``) exclude it for predicates on ANY
    clustered column or their conjunction. A single-column sort only
    helps the leading column; bit interleaving is what makes a 2-D
    range predicate prune — the reason warehouses Z-order instead of
    sorting. One column is range-sorted on its raw value instead (any
    orderable type). The clustered columns join the table's declared
    ``stats_columns``.

    Scale shape: one pass — per-column bucket boundaries come from a
    single ``percentile_approx`` aggregate over numeric/date/timestamp
    keys (boundary ACCURACY only affects layout quality, never data
    correctness), inlined as literal arrays of the column's own type;
    the bucket id (a binary search over that array) and the interleave
    are scan-side codegen; the one shuffle is the ``repartitionByRange``
    on the z-value that the rewrite needs anyway.
    """
    cols = list(columns)
    if not 1 <= len(cols) <= 4:
        raise ValueError(f"zorder_cluster needs 1-4 columns, got {cols}")
    n_files = max(1, int(target_files))
    m = store.snapshot(name)

    def layout(df: DataFrame, part: list[str]) -> DataFrame:
        keys = [F.col(sql_ident(c)) for c in cols]
        if len(cols) == 1:
            return df.repartitionByRange(n_files, *keys).sortWithinPartitions(*keys)
        types = [df.schema[c].dataType for c in cols]
        for c, t in zip(cols, types):
            if not isinstance(t, _ZORDER_TYPES):
                raise TypeError(
                    f"zorder column '{c}' has type {t.simpleString()}; only "
                    f"numeric/date/timestamp columns can be z-ordered with "
                    f"others (hash or dictionary-encode strings upstream)")
        n_buckets = 1 << _ZORDER_BITS
        fracs = [i / n_buckets for i in range(1, n_buckets)]
        # boundaries travel as strings and are cast back, so they keep the
        # column's type (a Python datetime literal would be a session-zone
        # TIMESTAMP even for a TIMESTAMP_NTZ column)
        bounds = df.agg(*[F.percentile_approx(k, fracs).cast("array<string>")
                          for k in keys]).first()
        ranked = df
        for ci, (k, t) in enumerate(zip(keys, types)):
            ranked = ranked.withColumn(f"__r{ci}", F.lit(0))
            if bounds[ci] is None:
                # entirely-NULL column or empty table: no boundaries, a
                # degenerate single-bucket layout
                continue
            arr = F.lit(list(bounds[ci])).cast(T.ArrayType(t))
            r = F.col(f"__r{ci}")
            # rank bucket = number of boundaries <= value, by binary search
            # over the sorted boundaries; each step is its own projection
            # (nested, every step would repeat the running rank's whole
            # expression twice). NULL keys fail every step → bucket 0
            for step in (1 << i for i in reversed(range(_ZORDER_BITS))):
                ranked = ranked.withColumn(f"__r{ci}", r + F.when(
                    F.element_at(arr, r + step) <= k, step).otherwise(0))
        z = F.lit(0).cast("bigint")
        for ci in range(len(cols)):
            b = F.col(f"__r{ci}").cast("bigint")
            for bit in range(_ZORDER_BITS):
                z = z + F.shiftleft(F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                                    bit * len(cols) + ci).cast("bigint")
        return (ranked.withColumn("__z", z)
                .drop(*[f"__r{ci}" for ci in range(len(cols))])
                .repartitionByRange(n_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z"))

    return _recluster(
        store, spark, name, m, "zorder", layout,
        stats_columns=list(dict.fromkeys([*(m.get("stats_columns") or []),
                                          *cols])))

