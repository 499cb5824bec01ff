"""Versioned parquet TableStore — the engine's batch table substrate.

The reference writes through Delta Lake; this environment has no delta-spark,
so the store re-creates the two Delta properties the engine actually relies
on, with plain parquet + a manifest:

- **atomic snapshot swap** — writers produce a new version directory and
  publish its manifest as ``_manifest_v{n}.json``, an immutable file linked
  into place put-if-absent (:mod:`store.versioned`), so readers never see a
  partial write and of two writers racing on a version exactly one wins;
- **append without rewrite** — a manifest version lists *data directories*;
  append adds a directory instead of rewriting old files (a miniature
  add-file log).

Scale notes: data directories may be hive-partitioned (``partition_by``).
Row-level rewrites (``selective_overwrite``, the SCD1/2/3 key merges, the
``dml`` DELETE / UPDATE / MERGE) share one copy-on-write commit,
:meth:`TableStore._rewrite`: files that file stats or hive partition values
prove untouched are hard-linked into the new version, not copied. Every
read is :meth:`TableStore._read_files`: plain parquet scans with each data
directory's recorded schema → normal pushdown/pruning applies.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from projectone_spark.store.versioned import publish, read_latest


class ConcurrentWriteError(RuntimeError):
    """Another writer committed after the version this write pinned as its
    base (Delta's ConcurrentAppend/ConcurrentModification family). Appends
    and value-set builds retry internally; rewrites (compact, DML, merge)
    surface it — retrying those without re-reading would silently drop the
    other writer's rows."""


class TableStore:
    """A directory of versioned parquet tables.

    Layout::

        root/<table>/_manifest.json          # hint: a copy of a recent version
        root/<table>/_manifest_v{n}.json     # version n, immutable
        root/<table>/v{n}-<uuid>/            # data directories

    Each ``_manifest_v{n}.json`` is linked into place once and never
    rewritten (:mod:`store.versioned`); its ``files`` list every data file
    of the version. The pointer may lag: readers step forward from it.

    :meth:`snapshot` is the one manifest lookup: it opens one file, the
    current pointer or ``_manifest_v{n}.json``, so time travel, restore,
    the change feed and the table stream source open one manifest per
    version they touch. Only :meth:`history` lists them all.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str, version: int | None = None) -> str:
        fn = "_manifest.json" if version is None else f"_manifest_v{version}.json"
        return os.path.join(self._table_dir(name), fn)

    def snapshot(self, name: str, version: int | None = None) -> dict:
        """The current manifest, or version ``version``'s: one file opened
        either way (while the pointer is not stale). A missing table or
        version raises FileNotFoundError."""
        if version is None:
            m = read_latest(self._manifest_path(name),
                            partial(self._manifest_path, name))
            if m is not None:
                return m
        else:
            try:
                with open(self._manifest_path(name, version)) as f:
                    return json.load(f)
            except FileNotFoundError:
                if self.exists(name):
                    raise FileNotFoundError(
                        f"table '{name}' has no version {version}") from None
        raise FileNotFoundError(f"table '{name}' does not exist in {self.root}")

    def _retained(self, name: str, version: int) -> dict:
        """:meth:`snapshot` of ``version``, raising when vacuum removed its
        data dirs: the check every pinned read and restore share."""
        m = self.snapshot(name, version)
        missing = [d for d in m["dirs"] if not os.path.isdir(d)]
        if missing:
            raise FileNotFoundError(
                f"version {version} of '{name}' was vacuumed; "
                f"missing {missing}")
        return m

    def manifest(self, name: str) -> dict | None:
        try:  # snapshot, or None when the table does not exist
            return self.snapshot(name)
        except FileNotFoundError:
            return None

    def exists(self, name: str) -> bool:
        return self.manifest(name) is not None

    def version(self, name: str) -> int:
        m = self.manifest(name)
        return -1 if m is None else m["version"]

    def _commit(self, name: str, dirs: list[str], partition_by: list[str],
                operation: str, metrics: dict | None = None,
                stats_columns: list[str] | None = None,
                files: list[dict] | None = None,
                txn: tuple[str, int] | None = None,
                expected_base: int | None = None,
                set_columns: list[str] | None = None,
                manifest_extra: dict | None = None,
                schemas: dict[str, str] | None = None) -> int:
        """Publish the next version of ``name`` and return it. The link of
        its manifest (:func:`store.versioned.publish`) orders commits: one
        pinned to ``expected_base`` raises ConcurrentWriteError when
        another version landed since, a blind one re-reads and retries."""
        while True:
            prev = self.manifest(name)
            prev_version = -1 if prev is None else prev["version"]
            if expected_base is not None and prev_version != expected_base:
                raise ConcurrentWriteError(
                    f"table '{name}' is at version {prev_version}, but this "
                    f"write was prepared against version {expected_base}; "
                    f"re-read and retry")
            version = prev_version + 1
            # streaming transaction watermarks carry forward Delta-style
            txns = dict((prev or {}).get("txns") or {})
            if txn is not None:
                txns[txn[0]] = max(int(txn[1]), int(txns.get(txn[0], -1)))
            manifest = {
                "version": version,
                "dirs": dirs,
                "partition_by": partition_by,
                "operation": operation,
                "metrics": metrics or {},
                "committed_at": time.time(),
                "stats_columns": stats_columns or [],
                "set_columns": set_columns or [],
                "files": files or [],
                "txns": txns,
            }
            # per-dir read-back schema (see _dir_schema): carried forward
            # for retained dirs, pruned to the committed dir set so the
            # manifest stays bounded; readers merge footer schemas for
            # any dir without an entry
            prev_schemas = dict((prev or {}).get("schemas") or {})
            dir_schemas = {d: prev_schemas[d] for d in dirs
                           if d in prev_schemas}
            dir_schemas.update({d: s for d, s in (schemas or {}).items()
                                if d in dirs and s})
            if dir_schemas:
                manifest["schemas"] = dir_schemas
            # the model and index stamps (save_model, save_index) carry
            # across commits that keep or add to the stamped rows (append,
            # compact, zorder, a value-set build); a commit that replaces
            # contents drops them, since a stale stamp would pass junk off
            # as a model. save_model/save_index/restore re-stamp through
            # manifest_extra.
            for stamp in ("model", "index"):
                if (prev is not None and stamp in prev
                        and operation in ("append", "compact", "zorder",
                                          "value_sets")):
                    manifest[stamp] = prev[stamp]
            if manifest_extra:
                manifest.update(manifest_extra)
            try:
                publish(self._manifest_path(name),
                        partial(self._manifest_path, name), manifest)
                return version
            except FileExistsError:
                continue  # the re-read sees the winner's version

    def txn_version(self, name: str, app_id: str) -> int:
        """Highest transaction version committed for ``app_id`` (-1 if
        none) — Delta's ``txnAppId``/``txnVersion`` idempotent-write
        watermark."""
        m = self.manifest(name)
        if m is None:
            return -1
        return int((m.get("txns") or {}).get(app_id, -1))

    def history(self, name: str) -> list[dict]:
        """All committed manifests, newest first (cf. DeltaTable.history).
        It parses every version, so it is for listings and ``vacuum``; one
        version is :meth:`snapshot`."""
        tdir = self._table_dir(name)
        out = []
        if not os.path.isdir(tdir):
            return out
        for fn in os.listdir(tdir):
            if fn.startswith("_manifest_v") and fn.endswith(".json"):
                with open(os.path.join(tdir, fn)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["version"], reverse=True)

    def _commits(self, name: str, first: int, last: int):
        """``(previous, manifest)`` of each version ``first … last``,
        opening versions ``first − 1 … last`` once each."""
        prev = self.snapshot(name, first - 1) if first > 0 else None
        for v in range(first, last + 1):
            m = self.snapshot(name, v)
            yield prev, m
            prev = m

    # -- IO ----------------------------------------------------------------

    def read(self, spark: SparkSession, name: str,
             snapshot: dict | None = None) -> DataFrame:
        """The current version, or exactly ``snapshot`` (a dict from
        :meth:`manifest`): a read-modify-write reads the version it then
        pins as ``_expected_base``, not whatever is current by then."""
        m = self.snapshot(name) if snapshot is None else snapshot
        return self._read_files(spark, m, {d: [d] for d in m["dirs"]})

    @staticmethod
    def _schema_of(schema_json: str):
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(schema_json))

    def _read_files(self, spark: SparkSession, m: dict,
                    by_dir: dict[str, list[str]]) -> DataFrame | None:
        """One frame over chosen data files (or whole dirs) of snapshot
        ``m``, grouped by data directory; None when no file is chosen.
        Each dir reads with its recorded read-back schema (``_dir_schema``),
        so planning runs no inference job; a dir without one (pre-r12
        manifests, a rewrite that linked older-schema files) merges its
        footer schemas. Unpartitioned dirs sharing one schema are a single
        multi-path scan. Otherwise each dir reads with itself as
        ``basePath`` (so hive partition columns come back) and the groups
        union by name, null-filling columns a dir lacks (a table widened
        by ``append_evolve``)."""
        schemas = m.get("schemas") or {}
        groups = {d: paths for d, paths in by_dir.items() if paths}
        if not groups:
            return None

        def reader(schema: str | None):
            return (spark.read.schema(self._schema_of(schema)) if schema
                    else spark.read.option("mergeSchema", "true"))

        shared = {schemas.get(d) for d in groups}
        if not m["partition_by"] and len(shared) == 1:
            return reader(shared.pop()).parquet(
                *[p for ps in groups.values() for p in ps])
        frames = [reader(schemas.get(d)).option("basePath", d).parquet(*paths)
                  for d, paths in groups.items()]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read_version(self, spark: SparkSession, name: str, version: int) -> DataFrame:
        """Time travel to an historical version, read as :meth:`read`
        reads. Vacuumed dirs raise the same clear error as
        ``maintenance.restore`` (:meth:`_retained`), for every pinned
        reader (``load_model``/``open_index`` with ``version``)."""
        m = self._retained(name, version)
        return self._read_files(spark, m, {d: [d] for d in m["dirs"]})

    def _new_data_dir(self, name: str) -> str:
        version = self.version(name) + 1
        d = os.path.join(self._table_dir(name), f"v{version}-{uuid.uuid4().hex[:8]}")
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    def _write_dir(self, df: DataFrame, path: str,
                   partition_by: Sequence[str] | None,
                   capture_schema: bool = True) -> str | None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        if not capture_schema:
            return None
        derived = (None if partition_by
                   else _derived_readback_schema(df.schema))
        if derived is not None:
            return derived
        if partition_by and not _data_files([path]):
            # an empty partitioned write leaves no file to infer from (and
            # the dir would not read at all): record the written schema,
            # partition columns last as a partitioned read returns them
            from pyspark.sql.types import StructType

            fields = df.schema.fields
            return _derived_readback_schema(StructType(
                [f for f in fields if f.name not in partition_by]
                + [f for c in partition_by for f in fields if f.name == c]))
        return self._dir_schema(df.sparkSession, path, partition_by)

    def _dir_schema(self, spark: SparkSession, path: str,
                    partition_by: Sequence[str] | None) -> str:
        """Read-back schema of a just-written data directory, captured
        EMPIRICALLY (one footer-inference pass at write time) and recorded
        in the manifest so every later read supplies it explicitly —
        Delta/Iceberg keep the schema in table metadata for the same
        reason (r12, guide §1.2): schema inference costs one driver-side
        Spark job per directory per read, and a multi-commit partitioned
        snapshot pays it per commit dir on every open. Capturing what
        inference RETURNS (not ``df.schema``) keeps read-back types —
        partition-value inference, parquet nullability — bit-identical to
        the uninstrumented path."""
        reader = spark.read
        if partition_by:
            reader = reader.option("basePath", path)
        return reader.parquet(path).schema.json()

    def _stats_for(self, dirs: list[str],
                   stats_columns: list[str],
                   set_columns: list[str] | None = None) -> list[dict]:
        """Stats entries of the files in ``dirs``, just written. A 0-row
        file (Spark writes one beside a small write's rows) is deleted,
        unless every file is empty, so an empty write's dir still reads."""
        # entries are recorded even with no declared stats columns:
        # path/rows/bytes cost one footer read each, and the hive partition
        # values embedded in paths make partition pruning (read_where,
        # dml.delete_where/update_where) work on any partitioned table
        from projectone_spark.store.skipping import file_stats, value_set_stats

        entries = file_stats(dirs, stats_columns)
        if any(f["rows"] for f in entries):
            for f in entries:
                if not f["rows"]:
                    os.remove(f["path"])
                    head, tail = os.path.split(f["path"])
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(head, f".{tail}.crc"))
            entries = [f for f in entries if f["rows"]]
        for f in entries:  # inline distinct-set index for =/IN pruning
            if set_columns:
                vals = value_set_stats(f["path"], set_columns)
                if vals:
                    f["vals"] = vals
        return entries

    def overwrite(self, spark: SparkSession, df: DataFrame, name: str,
                  partition_by: Sequence[str] | None = None,
                  stats_columns: Sequence[str] | None = None,
                  set_columns: Sequence[str] | None = None,
                  _operation: str = "overwrite",
                  _expected_base: int | None = None,
                  manifest_extra: dict | None = None) -> int:
        """Full snapshot replace. A plain overwrite is blind (last writer
        wins, like Delta overwrite); snapshot-derived rewrites (compact,
        zorder) pass ``_expected_base`` so a concurrent append makes
        them raise instead of silently dropping its rows.
        ``set_columns`` additionally records per-file distinct-value sets
        (skipping.value_set_stats) for =/IN pruning, inherited by appends
        like ``stats_columns``."""
        m = self.manifest(name)
        cols = list(stats_columns if stats_columns is not None
                    else (m.get("stats_columns") or []) if m else [])
        sets = list(set_columns if set_columns is not None
                    else (m.get("set_columns") or []) if m else [])
        d = self._new_data_dir(name)
        sch = self._write_dir(df, d, partition_by)
        return self._commit(name, [d], list(partition_by or []), _operation,
                            stats_columns=cols, set_columns=sets,
                            files=self._stats_for([d], cols, sets),
                            expected_base=_expected_base,
                            manifest_extra=manifest_extra,
                            schemas={d: sch})

    def append(self, spark: SparkSession, df: DataFrame, name: str,
               partition_by: Sequence[str] | None = None,
               stats_columns: Sequence[str] | None = None,
               set_columns: Sequence[str] | None = None,
               txn: tuple[str, int] | None = None) -> int:
        # optimistic concurrency: the data directory written once is valid
        # under ANY concurrent commit (append never touches other dirs), so
        # on conflict only the manifest read-merge-commit retries — Delta's
        # ConcurrentAppend semantics, without rewriting data
        d = None
        new_files: list[dict] | None = None
        for _ in range(20):
            m = self.manifest(name)
            if m is not None and partition_by and list(partition_by) != m["partition_by"]:
                raise ValueError(
                    f"append partition_by {list(partition_by)} != table {m['partition_by']}")
            part = list(partition_by or (m["partition_by"] if m else []))
            cols = list(stats_columns if stats_columns is not None
                        else (m.get("stats_columns") or []) if m else [])
            sets = list(set_columns if set_columns is not None
                        else (m.get("set_columns") or []) if m else [])
            if d is None:
                d = self._new_data_dir(name)
                new_schema = self._write_dir(df, d, part)
                new_files = self._stats_for([d], cols, sets)
            dirs = ([*m["dirs"], d] if m is not None else [d])
            # incremental stats: footers of the NEW directory only, carried
            # alongside the previous commit's file list (Delta add-file style)
            files = [*(m.get("files") or [] if m else []), *new_files]
            try:
                return self._commit(name, dirs, part, "append",
                                    stats_columns=cols, set_columns=sets,
                                    files=files, txn=txn,
                                    expected_base=m["version"] if m else -1,
                                    schemas={d: new_schema})
            except ConcurrentWriteError:
                continue
        raise ConcurrentWriteError(
            f"append to '{name}' lost the commit race 20 times")

    @staticmethod
    def _select_files(m: dict, predicates: Sequence[tuple[str, str, object]],
                      ) -> tuple[dict[str, list[str]], list[tuple[str, dict]]]:
        """``(touched, skipped)`` data files of snapshot ``m``, from its
        ``files``: ``touched`` maps each dir to the files the conjunctive
        ``predicates`` may match; ``skipped`` lists the ``(dir, entry)``
        pairs that stats or hive partition values exclude."""
        from projectone_spark.store.skipping import prune_files

        kept, _ = prune_files(m, predicates)
        candidates = {f["path"] for f in kept}
        touched: dict[str, list[str]] = {}
        skipped: list[tuple[str, dict]] = []
        for f in m["files"]:
            d = _dir_of(m, f["path"])
            if f["path"] in candidates:
                touched.setdefault(d, []).append(f["path"])
            else:
                skipped.append((d, f))
        return touched, skipped

    def _rewrite(self, spark: SparkSession, name: str, snapshot: dict,
                 predicates: Sequence[tuple[str, str, object]], transform,
                 operation: str, *, adds_rows: bool = False,
                 metrics: dict | None = None,
                 txn: tuple[str, int] | None = None,
                 manifest_extra: dict | None = None) -> int | None:
        """The store's one copy-on-write commit: link the untouched data,
        rewrite the rest. Files of ``snapshot`` whose stats or hive
        partition values provably exclude the conjunctive ``predicates``
        are hard-linked into a new data directory, each with its stats
        entry carried over; every other file is read as one frame,
        ``transform(frame)`` is written first, the links are added beside
        it, and the commit pins ``snapshot``: a commit that landed since
        raises ConcurrentWriteError instead of losing its rows. Only the
        written files' footers are read. The commit records its exact
        read/write file sets (``changed_old`` / ``changed_new``) for the
        change feed.

        With no candidate file, a caller that cannot add rows (DELETE,
        UPDATE) gets None — no commit, no Spark job; one that can
        (``adds_rows``) has ``transform`` run over an empty frame of the
        snapshot's schema. A column the frame has keeps its type: the
        links hold it (:func:`_store_assign`)."""
        m = snapshot
        part = m["partition_by"]
        touched, linkable = self._select_files(m, predicates)
        if not touched and not adds_rows:
            return None
        frame = self._read_files(spark, m, touched)
        if frame is None:
            frame = self._read_files(
                spark, m, {d: [d] for d in m["dirs"]}).limit(0)
        out = _store_assign(transform(frame), frame.schema, part,
                            f"{operation} on '{name}'")
        nd = self._new_data_dir(name)
        written = self._write_dir(out, nd, part)
        cols = m.get("stats_columns") or []
        sets = m.get("set_columns") or []
        fresh = self._stats_for([nd], cols, sets)
        linked = _link_entries(linkable, lambda d: nd)
        # the new dir's read-back schema is recorded only when uniformity
        # is provable: every linked-from dir carries exactly the recorded
        # schema the fresh files read back as. Otherwise readers merge the
        # dir's footer schemas (TableStore._read_files).
        recorded = m.get("schemas") or {}
        uniform = all(recorded.get(d) == written for d, _ in linkable)
        rows = {f["path"]: f["rows"] for f in m["files"]}
        stats = {
            **(metrics or {}),
            "files_rewritten": sum(map(len, touched.values())),
            "files_linked": len(linked),
            "rows_scanned": sum(rows[p] for ps in touched.values()
                                for p in ps),
            "rows_after_rewrite": sum(f["rows"] for f in fresh),
            "changed_old": touched,
            "changed_new": [f["path"] for f in fresh],
        }
        if part:
            stats["replaced_partitions"] = sorted(
                {os.path.relpath(os.path.dirname(p), d)
                 for d, ps in touched.items() for p in ps})
        return self._commit(name, [nd], part, operation, stats,
                            stats_columns=cols, set_columns=sets,
                            files=[*fresh, *linked], txn=txn,
                            # index maintenance (indexes.drop_from_index)
                            # re-stamps through the SAME atomic commit
                            manifest_extra=manifest_extra,
                            expected_base=m["version"],
                            schemas={nd: written if uniform else None})

    def selective_overwrite(self, spark: SparkSession, df: DataFrame, name: str,
                            replace_where: str | None = None,
                            partition_values: dict[str, list] | None = None,
                            partition_by: Sequence[str] | None = None) -> int:
        """Delta ``replaceWhere`` (the reference declares
        `selective_overwrite` but never implemented it — sources.py:85):
        the rows matching the condition are replaced by ``df``.

        The condition is ``replace_where`` (SQL) AND one ``col IN (values)``
        per ``partition_values`` entry. Both run through :meth:`_rewrite`:
        the ``partition_values`` terms prune, so files whose hive partition
        values or stats exclude them are hard-linked untouched; the other
        files keep their rows outside the condition, and the commit
        records its exact changed-file sets. A ``replace_where``-only
        call reads every file. Rows whose condition is NULL are kept.

        Every row of ``df`` must satisfy the condition (Delta's
        replaceWhere constraint check): a row outside it fails the write,
        naming the table and the condition. ``partition_by`` applies only
        when the table does not exist yet.
        """
        m = self.manifest(name)
        if m is None:
            return self.overwrite(spark, df, name, partition_by)
        import pyspark.sql.functions as F

        from projectone_spark.store.skipping import (
            _validate_predicates,
            predicates_to_sql,
            sql_ident,
        )

        predicates = _validate_predicates(
            [(c, "in", vals) for c, vals in (partition_values or {}).items()])
        terms = ([predicates_to_sql(predicates)] if predicates else []) \
            + ([f"({replace_where})"] if replace_where else [])
        if not terms:
            raise ValueError("selective_overwrite needs replace_where or partition_values")
        cond = " AND ".join(terms)
        outside = F.expr(f"({cond}) IS NOT TRUE")
        first = df.columns[0]
        # folded into an OUTPUT column (like merge_into's duplicate-match
        # guard) so the check rides the write's own job
        checked = df.withColumn(first, F.when(outside, F.raise_error(F.lit(
            f"selective_overwrite on '{name}': a source row falls outside "
            f"the replaced range {cond}; filter the source to it or widen "
            f"the condition"))).otherwise(F.col(sql_ident(first))))
        return self._rewrite(
            spark, name, m, predicates,
            lambda cand: cand.filter(outside).unionByName(
                checked, allowMissingColumns=True),
            "selective_overwrite", adds_rows=True,
            metrics={"predicate": cond})


#: Spark type-json names whose parquet read-back provably equals the
#: written schema made nullable: Spark embeds the writer's schema JSON in
#: the parquet footer (``org.apache.spark.sql.parquet.row.metadata``),
#: inference deserializes exactly that, and file-source relations force
#: nullability — so for these types the recorded "empirical read-back
#: schema" can be DERIVED from ``df.schema`` with zero Spark jobs (r13,
#: guide §1.2: inference cost one driver-side job per directory per
#: write). Anything outside the list (user-defined types, char/varchar
#: metadata, future types) falls back to the empirical inference pass.
#: ``timestamp_ntz`` is safe under any ``spark.sql.parquet.
#: inferTimestampNTZ.enabled``: that setting only steers inference for
#: files without the embedded Spark schema, and every store file has it.
_READBACK_SAFE_TYPES = frozenset({
    "boolean", "byte", "short", "integer", "long", "float", "double",
    "string", "binary", "date", "timestamp", "timestamp_ntz",
    "array", "map", "struct",
})


def _derived_readback_schema(schema) -> str | None:
    """``spark.read.parquet(dir).schema.json()`` for a directory just
    written with ``schema`` — computed structurally (all fields/elements
    forced nullable, everything else carried verbatim), or None when a
    type outside the proven-safe set (or decimal, handled explicitly)
    appears and the caller must fall back to real inference. Pinned
    against actual inference across the full type matrix by
    ``tests/test_store.py``."""
    def nullable(node):
        if isinstance(node, dict):
            t = node.get("type")
            if isinstance(t, dict):
                out = dict(node)
                out["type"] = nullable(t)
                if "nullable" in out:
                    out["nullable"] = True
                return out
            if isinstance(t, str):
                # a field / container node with a primitive type name
                if not (t in _READBACK_SAFE_TYPES
                        or t.startswith("decimal(")):
                    raise ValueError(t)
                out = dict(node)
                if "nullable" in out:
                    out["nullable"] = True
                if "containsNull" in out:
                    out["containsNull"] = True
                if "valueContainsNull" in out:
                    out["valueContainsNull"] = True
                if t == "struct":
                    out["fields"] = [nullable(f) for f in node["fields"]]
                if t == "array":
                    out["elementType"] = nullable(node["elementType"])
                    out["containsNull"] = True
                if t == "map":
                    out["keyType"] = nullable(node["keyType"])
                    out["valueType"] = nullable(node["valueType"])
                    out["valueContainsNull"] = True
                return out
            raise ValueError(repr(t))
        if isinstance(node, str):
            if not (node in _READBACK_SAFE_TYPES
                    or node.startswith("decimal(")):
                raise ValueError(node)
            return node
        raise ValueError(repr(node))

    try:
        root = json.loads(schema.json())
        # field metadata (char/varchar annotations, column comments) rides
        # the embedded footer schema in ways not worth proving — inference
        # is the ground truth there
        def has_metadata(node) -> bool:
            if isinstance(node, dict):
                if node.get("metadata"):
                    return True
                return any(has_metadata(v) for v in node.values())
            if isinstance(node, list):
                return any(has_metadata(v) for v in node)
            return False

        if has_metadata(root):
            return None
        from pyspark.sql.types import StructType

        # round-trip through StructType so the recorded JSON is
        # byte-identical to what inference (schema.json()) produces —
        # the manifest's shared-schema fast path compares strings
        return StructType.fromJson(nullable(root)).json()
    except ValueError:
        return None


def _store_assign(out: DataFrame, schema, partition_by: Sequence[str],
                  what: str) -> DataFrame:
    """``out`` with each column that ``schema`` also has cast to its type
    there — store assignment, as Delta's UPDATE and MERGE do. A rewrite
    links the files it does not touch in their old types, so a rewritten
    file in another type would leave a table that no longer reads.
    Partition columns are left as they are: their values live in
    directory names."""
    cast = _assigned(out.schema.fields, schema, partition_by, what)
    return out.withColumns(cast) if cast else out


def _assigned(fields, schema, partition_by: Sequence[str], what: str) -> dict:
    """``{name: Column}``, each of ``fields`` whose type differs from its
    type in ``schema`` cast to it: the values a commit would store. A
    value that does not fit raises (Spark's ANSI store-assignment rule,
    whatever the session's ANSI setting); it never wraps or becomes NULL.
    Types that already match get no entry, so they add nothing to a
    plan."""
    import pyspark.sql.functions as F

    from projectone_spark.store.skipping import sql_ident

    want = {f.name: f.dataType for f in schema.fields
            if f.name not in partition_by}
    cast = {}
    for f in fields:
        t = want.get(f.name)
        if t is None or t.simpleString() == f.dataType.simpleString():
            continue
        c = F.col(sql_ident(f.name))
        err = F.raise_error(F.concat(
            F.lit(f"{what}: value "), c.cast("string"),
            F.lit(f" does not fit column `{f.name}` {t.simpleString().upper()}"
                  f"; cast it in the expression or overwrite the table "
                  f"with a wider type")))
        cast[f.name] = F.when(c.isNotNull() & c.try_cast(t).isNull(),
                              err).otherwise(c.try_cast(t))
    return cast


def create_if_not_exists(store: TableStore, spark: SparkSession, table,
                         ) -> int | None:
    """Materialize a Table contract if absent (reference
    ``DeltaTable.createIfNotExists`` feature, ``core/utils/delta.py:84-133``):
    an empty version-0 snapshot with the declared schema; partition spec,
    properties, comment, and column metadata recorded in the manifest.
    Returns the created version, or None when the table already exists,
    also when a concurrent writer created it first."""
    from projectone_spark.config.data_objects import Table
    from projectone_spark.features import parse_ddl

    assert isinstance(table, Table)
    if store.exists(table.name):
        return None
    empty = spark.createDataFrame([], parse_ddl(table.ddl()))
    try:
        return store.overwrite(
            spark, empty, table.name, table.partition_by or None,
            _operation="create", _expected_base=-1,
            manifest_extra={"properties": dict(table.properties),
                            "comment": table.comment,
                            "columns": [c.model_dump()
                                        for c in table.columns]})
    except ConcurrentWriteError:
        return None


def last_commit_stats(store: TableStore, name: str) -> dict:
    """Last-commit operation stats (reference ``get_last_write_stats``,
    ``core/utils/delta.py:135-168``): operation, version, file count and
    byte size of the current snapshot — all from metadata, no Spark job."""
    m = store.snapshot(name)
    return {"operation": m["operation"], "version": m["version"],
            "committed_at": m["committed_at"], "num_files": len(m["files"]),
            "num_bytes": sum(f["bytes"] for f in m["files"]),
            "partition_by": m["partition_by"]}


def _link_file(src: str, dst: str) -> None:
    """Hard-link one file (fallback: copy). Stands in for the
    manifest-only file re-add a cloud table format would do."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _link_entries(entries: list[tuple[str, dict]], into) -> list[dict]:
    """Hard-link the file of each ``(dir, entry)`` to its path relative to
    ``dir`` under ``into(dir)``; returns the entries with the new paths."""
    out = []
    for d, f in entries:
        dst = os.path.join(into(d), os.path.relpath(f["path"], d))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        _link_file(f["path"], dst)
        out.append({**f, "path": dst})
    return out


def _dir_of(m: dict, path: str) -> str:
    """The data directory of snapshot ``m`` that holds file ``path``."""
    return next(d for d in m["dirs"] if path.startswith(d + os.sep))


def _data_files(dirs: Sequence[str]) -> list[str]:
    """Every parquet data file under ``dirs`` (just written), in order."""
    out = []
    for d in dirs:
        for dirpath, _, files in os.walk(d):
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    out.append(os.path.join(dirpath, fn))
    return out


def read_changes(store: TableStore, spark: SparkSession, name: str,
                 starting_version: int, ending_version: int | None = None):
    """Change-feed read between versions — the engine's analogue of Delta
    CDF (reference reads ``readChangeFeed`` with start/end versions,
    ``delta_source.py:32-45``).

    Append commits are metadata-only: the delta is exactly the data
    directories the commit added, so reading changes costs one scan of the
    new files. Commits made by ``TableStore._rewrite`` (delete / update /
    merge, selective overwrites, SCD1/2/3) record their exact read/write
    file sets, so the delta diffs only the touched files — cost ∝ files
    changed, not table size. A value-set build records that it changed
    no file, so its delta is empty. A plain overwrite (and compact / zorder /
    restore) records no change files, so its delta is the two
    whole snapshots compared with exceptAll both ways — correct, but a
    full compare; a production deployment on Delta gets those change
    files for free at write time.

    Output adds ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` columns, mirroring CDF's shape. The range is
    ``[starting_version, ending_version]``, and only the manifests of
    versions ``starting_version − 1 … ending_version`` are opened.
    """
    import pyspark.sql.functions as F

    end = (ending_version if ending_version is not None
           else store.snapshot(name)["version"])
    frames = []
    for prev, m in store._commits(name, starting_version, end):
        v = m["version"]
        if m["operation"] == "append" and prev is not None:
            new_dirs = [d for d in m["dirs"] if d not in set(prev["dirs"])]
            if new_dirs:
                added = store._read_files(spark, m,
                                          {d: [d] for d in new_dirs})
                frames.append(added
                              .withColumn("_change_type", F.lit("insert"))
                              .withColumn("_commit_version", F.lit(v)))
            continue
        changed_old = (m.get("metrics") or {}).get("changed_old")
        if changed_old is not None and prev is not None:
            old = store._read_files(spark, prev, changed_old)
            new = store._read_files(
                spark, m, {m["dirs"][0]: m["metrics"].get("changed_new")})
            empty = store.read(spark, name, snapshot=m).limit(0)
            old = old if old is not None else empty
            new = new if new is not None else empty
        else:
            new = store.read(spark, name, snapshot=m)
            old = (store.read(spark, name, snapshot=prev) if prev is not None
                   else new.limit(0))
        frames.append(new.exceptAll(old)
                      .withColumn("_change_type", F.lit("insert"))
                      .withColumn("_commit_version", F.lit(v)))
        frames.append(old.exceptAll(new)
                      .withColumn("_change_type", F.lit("delete"))
                      .withColumn("_commit_version", F.lit(v)))
    if not frames:
        store.snapshot(name)  # a missing table raises "does not exist"
        raise ValueError(f"no commits in [{starting_version}, {end}] for '{name}'")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def register_catalog(store: TableStore, spark: SparkSession,
                     tables: Sequence[str] | None = None,
                     views: Sequence | None = None) -> None:
    """Expose store tables (and View contracts) to Spark SQL as temp views
    (reference materializes Schema/Table/View objects into the catalog;
    ``data_objects.py:99-110``). After this, ``spark.sql`` can address
    every registered name — the full SQL surface over the store."""
    for name in tables or []:
        store.read(spark, name).createOrReplaceTempView(name)
    for v in views or []:
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {v.name} AS {v.query}")


def sql(store: TableStore, spark: SparkSession, query: str,
        tables: Sequence[str] | None = None) -> DataFrame:
    """Run SQL over store tables, auto-registering them first. When
    ``tables`` is omitted, every table in the store root is registered."""
    import os as _os

    if tables is None:
        tables = [d for d in _os.listdir(store.root)
                  if store.exists(d)]
    register_catalog(store, spark, tables)
    return spark.sql(query)
