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

from projectone_spark.store import TableStore


def table_files(store: TableStore, name: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file in the current snapshot."""
    m = store.manifest(name)
    if m is None:
        raise FileNotFoundError(f"table '{name}' does not exist")
    out = []
    for d in m["dirs"]:
        for dirpath, _, files in os.walk(d):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(dirpath, fn)
                    out.append((p, os.path.getsize(p)))
    return out


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
    files = table_files(store, name)
    if sum(1 for _, b in files if b < small) < 2:
        return None
    m = store.manifest(name)
    if m.get("metrics", {}).get("bucket_by"):
        raise ValueError(
            f"table '{name}' is bucketed; re-bucket with "
            f"store.bucketing.write_bucketed instead of compact() — a plain "
            f"rewrite would silently discard the bucket layout")
    total = sum(b for _, b in files)
    n_out = max(1, -(-total // target_file_bytes))
    # mergeSchema read: a table widened by append_evolve must keep its
    # evolved columns through the rewrite (plain read takes one file's schema)
    df = read_merged(store, spark, name)
    part = m["partition_by"]
    if part:
        # coalesce within hive partitions: shuffle on the partition cols
        compacted = df.repartition(n_out, *[F.col(c) for c in part])
    else:
        compacted = df.repartition(n_out)
    return store.overwrite(spark, compacted, name,
                           partition_by=part or None,
                           _operation="compact",
                           _expected_base=m["version"])


def vacuum(store: TableStore, name: str, keep_versions: int = 2,
           retention_seconds: float | None = None) -> list[str]:
    """Delete data directories referenced ONLY by manifests older than the
    newest ``keep_versions`` AND (when ``retention_seconds`` is given)
    committed earlier than the retention horizon — Delta VACUUM's
    time-based retention, with a version floor so the current snapshot is
    never collectable. Time travel to vacuumed versions stops working,
    exactly like Delta. Returns the removed directories."""
    import time as _time

    history = store.history(name)
    if not history:
        raise FileNotFoundError(f"table '{name}' does not exist")
    cutoff = (_time.time() - retention_seconds
              if retention_seconds is not None else None)
    keep = {d for i, m in enumerate(history)
            if i < keep_versions
            or (cutoff is not None and m["committed_at"] >= cutoff)
            for d in m["dirs"]}
    dropped: list[str] = []
    tdir = store._table_dir(name)
    for entry in sorted(os.listdir(tdir)):
        p = os.path.join(tdir, entry)
        if os.path.isdir(p) and p not in keep:
            shutil.rmtree(p)
            dropped.append(p)
    return dropped


def restore(store: TableStore, name: str, version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF``: publish a NEW commit
    whose data directories are exactly those of the historical version —
    a metadata-only rollback (nothing is copied; restore-of-restore and
    time travel past the restore both keep working). The restored dirs
    become referenced by the current manifest again, so a later
    ``vacuum`` keeps them."""
    target = None
    for m in store.history(name):
        if m["version"] == version:
            target = m
            break
    if target is None:
        raise FileNotFoundError(f"table '{name}' has no version {version}")
    missing = [d for d in target["dirs"] if not os.path.isdir(d)]
    if missing:
        raise FileNotFoundError(
            f"version {version} of '{name}' was vacuumed; missing {missing}")
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
    independent table. Data files are HARD-LINKED into the target table's
    own directory (metadata-only cost on one filesystem, the same trick
    ``TableStore._rewrite`` uses for untouched files), so vacuuming
    or dropping the source never breaks the clone — unlike a Delta
    shallow clone, which this otherwise matches in cost."""
    m = store.manifest(name)
    if m is None:
        raise FileNotFoundError(f"table '{name}' does not exist")
    if store.manifest(target) is not None:
        raise FileExistsError(f"table '{target}' already exists")
    from projectone_spark.store import _link_tree

    new_dirs: list[str] = []
    remap: dict[str, str] = {}
    for d in m["dirs"]:
        nd = os.path.join(store._table_dir(target), os.path.basename(d))
        os.makedirs(os.path.dirname(nd), exist_ok=True)
        _link_tree(d, nd)
        new_dirs.append(nd)
        remap[d] = nd
    files = []
    for f in m.get("files") or []:
        for old, new in remap.items():
            if f["path"].startswith(old + os.sep):
                files.append({**f, "path": new + f["path"][len(old):]})
                break
    src_schemas = m.get("schemas") or {}
    return store._commit(target, new_dirs, list(m["partition_by"]), "clone",
                         {"cloned_from": name, "source_version": m["version"]},
                         stats_columns=list(m.get("stats_columns") or []),
                         set_columns=list(m.get("set_columns") or []),
                         files=files,
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


def read_merged(store: TableStore, spark: SparkSession, name: str) -> DataFrame:
    """Read with parquet schema merging on (needed after append_evolve —
    plain reads take the schema of the first file listed). Partitioned
    multi-commit snapshots read per-directory (each dir its own basePath,
    like TableStore.read) and union with allowMissingColumns so commits
    written before a schema evolution still line up."""
    m = store.manifest(name)
    if m is None:
        raise FileNotFoundError(f"table '{name}' does not exist")
    schemas = m.get("schemas") or {}
    known = [schemas.get(d) for d in m["dirs"]]
    if all(known) and len(set(known)) == 1:
        # r12 (guide §1.2): every dir's recorded read-back schema is
        # IDENTICAL, so merging footers would return exactly that
        # schema — skip the mergeSchema footer sweep (one driver pass
        # over every file in the snapshot) and read like TableStore.read
        return store._read_manifest(spark, m)
    if m["partition_by"]:
        frames = [spark.read.option("mergeSchema", "true")
                  .option("basePath", d).parquet(d) for d in m["dirs"]]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out
    return spark.read.option("mergeSchema", "true").parquet(*m["dirs"])


def zorder_cluster(store: TableStore, spark: SparkSession, name: str,
                   columns: Sequence[str], target_files: int = 8,
                   bits: int = 8) -> int:
    """Multi-column clustering rewrite — Delta's ``OPTIMIZE ZORDER BY``:
    the snapshot is rewritten ordered by the Morton (Z-order) interleave
    of each row's per-column rank buckets, so every output file covers a
    small HYPER-RECTANGLE of the key space and the per-file min/max
    stats (``skipping.prune_files``) exclude it for predicates on ANY
    clustered column or their conjunction. A single-column sort only
    helps the leading column; bit interleaving is what makes a 2-D
    range predicate prune — the reason warehouses Z-order instead of
    sorting.

    Scale shape: one pass — per-column bucket boundaries come from a
    single ``percentile_approx`` aggregate (boundary ACCURACY only
    affects layout quality, never data correctness), broadcast as array
    literals; the bucket id and the interleave are scan-side codegen;
    the one shuffle is the ``repartitionByRange`` on the z-value that
    the rewrite needs anyway. No global sort, no window over a single
    partition.
    """
    cols = list(columns)
    if not 1 <= len(cols) <= 4:
        raise ValueError(f"zorder_cluster needs 1-4 columns, got {cols}")
    if not 1 <= bits <= 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    m = store.manifest(name)
    if m is None:
        raise FileNotFoundError(f"table '{name}' does not exist")
    if m.get("metrics", {}).get("bucket_by"):
        raise ValueError(
            f"table '{name}' is bucketed; Z-ordering would silently "
            "discard the bucket layout")
    df = read_merged(store, spark, name)
    n_buckets = 1 << bits
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.agg(*[
        F.percentile_approx(F.col(c).cast("double"), fracs).alias(c)
        for c in cols]).first()

    def bucket(c: str, bs: list[float]):
        # rank bucket = number of boundaries <= value (0 .. n_buckets-1),
        # a scan-side fold over a literal boundary array
        if not bs:
            # entirely-NULL column or empty table: percentile_approx has
            # no boundaries — degenerate single-bucket layout (bucket 0)
            return F.lit(0).cast("bigint")
        arr = F.lit([float(b) for b in bs])
        v = F.col(c).cast("double")
        return F.coalesce(
            F.size(F.filter(arr, lambda b: b <= v)).cast("bigint"),
            F.lit(0).cast("bigint"))  # NULL keys cluster at bucket 0

    z = F.lit(0).cast("bigint")
    k = len(cols)
    for ci, c in enumerate(cols):
        b = bucket(c, [] if bounds[c] is None else list(bounds[c]))
        for bit in range(bits):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * k + ci).cast("bigint")
    part = m["partition_by"]
    clustered = (df.withColumn("__z", z)
                 .repartitionByRange(max(1, int(target_files)), F.col("__z"))
                 .sortWithinPartitions("__z")
                 .drop("__z"))
    return store.overwrite(
        spark, clustered, name, partition_by=part or None,
        stats_columns=cols, _operation="zorder",
        _expected_base=m["version"])
