"""Versioned parquet TableStore — the engine's batch table substrate.

The reference writes through Delta Lake; this environment has no delta-spark,
so the store re-creates the two Delta properties the engine actually relies
on, with plain parquet + a manifest:

- **atomic snapshot swap** — writers produce a new version directory and
  atomically repoint a JSON manifest (`os.replace`), so readers never see a
  partial write;
- **append without rewrite** — a manifest version lists *data directories*;
  append adds a directory instead of rewriting old files (a miniature
  add-file log).

When ``delta-spark`` IS importable the store transparently uses Delta
(``format("delta")``, ``replaceWhere``) — see ``_delta_available``.

Scale notes: data directories may be hive-partitioned (``partition_by``);
``selective_overwrite`` with explicit partition values replaces only the
affected partition directories (untouched partitions are hard-linked into
the new version, not copied). Reading is always
``spark.read.parquet(*dirs)`` → normal pushdown/pruning applies.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - delta not present in this environment
    from delta.tables import DeltaTable  # noqa: F401

    _delta_available = True
except ImportError:
    _delta_available = False


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this write's snapshot read and its
    commit (Delta's ConcurrentAppend/ConcurrentModification family).
    Appends retry internally; rewrites (compact, DML, merge) surface it —
    retrying those without re-reading would silently drop the other
    writer's rows."""


class TableStore:
    """A directory of versioned parquet tables.

    Layout::

        root/<table>/_manifest.json          # current {"version", "dirs", ...}
        root/<table>/_manifest_v{n}.json     # history (reference-style
                                             #   versioned state, state.py:89-127)
        root/<table>/v{n}-<uuid>/            # data directories
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_manifest.json")

    def manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def exists(self, name: str) -> bool:
        return self.manifest(name) is not None

    def version(self, name: str) -> int:
        m = self.manifest(name)
        return -1 if m is None else m["version"]

    @contextmanager
    def _commit_lock(self, name: str, timeout: float = 30.0):
        """Filesystem mutex for the check-and-swap window (O_CREAT|O_EXCL is
        atomic on one filesystem — the same primitive Delta's log store
        uses for 'put-if-absent' on non-transactional storage)."""
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        lock = os.path.join(tdir, "_commit.lock")
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.time() > deadline:
                    raise TimeoutError(
                        f"commit lock {lock} held too long; remove it if the "
                        f"holding process died")
                time.sleep(0.005)
        try:
            yield
        finally:
            os.close(fd)
            os.unlink(lock)

    def _commit(self, name: str, dirs: list[str], partition_by: list[str],
                operation: str, metrics: dict | None = None,
                stats_columns: list[str] | None = None,
                files: list[dict] | None = None,
                txn: tuple[str, int] | None = None,
                expected_base: int | None = None,
                set_columns: list[str] | None = None,
                manifest_extra: dict | None = None,
                schemas: dict[str, str] | None = None) -> int:
        with self._commit_lock(name):
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
            # manifest stays bounded; readers fall back to inference for
            # any dir without an entry
            prev_schemas = dict((prev or {}).get("schemas") or {})
            dir_schemas = {d: prev_schemas[d] for d in dirs
                           if d in prev_schemas}
            dir_schemas.update({d: s for d, s in (schemas or {}).items()
                                if d in dirs and s})
            if dir_schemas:
                manifest["schemas"] = dir_schemas
            # model metadata (store.models.save_model) rides the SAME
            # atomic manifest publish — never a second write — and
            # carries forward across CONTENT-PRESERVING commits (append
            # adds rows, compact/zorder/optimize recluster the same
            # rows), so routine maintenance on a model table cannot
            # silently strip its kind stamp. Content-REPLACING commits
            # (overwrite, selective overwrite, DML mutations) drop it:
            # the new contents were not produced by save_model, and a
            # stale stamp would let load_model hand a downstream apply
            # task garbage with a valid-looking kind (r9 review finding
            # — reproduced with a plain overwrite of junk onto a model
            # table). save_model itself re-stamps through manifest_extra
            # on every save; restore copies the RESTORED version's stamp
            # through manifest_extra (prev's would be the wrong
            # contents' stamp).
            # the index stamp (store.indexes.save_index) follows the same
            # lifecycle one level up: appends are exactly how an index is
            # incrementally maintained, so they must keep the stamp
            for stamp in ("model", "index"):
                if (prev is not None and stamp in prev
                        and operation in ("append", "compact", "zorder",
                                          "optimize")):
                    manifest[stamp] = prev[stamp]
            if manifest_extra:
                manifest.update(manifest_extra)
            tdir = self._table_dir(name)
            tmp = os.path.join(tdir, f"_manifest.tmp.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1)
            # keep history, then atomically swap the current pointer
            shutil.copy(tmp, os.path.join(tdir, f"_manifest_v{version}.json"))
            os.replace(tmp, self._manifest_path(name))
            return version

    def txn_version(self, name: str, app_id: str) -> int:
        """Highest transaction version committed for ``app_id`` (-1 if
        none) — Delta's ``txnAppId``/``txnVersion`` idempotent-write
        watermark."""
        m = self.manifest(name)
        if m is None:
            return -1
        return int((m.get("txns") or {}).get(app_id, -1))

    def amend_manifest(self, name: str, mutator) -> dict:
        """Apply ``mutator(manifest_dict)`` to the current manifest and
        atomically republish it (current pointer + its ``_v{n}`` history
        copy) — the single place manifest-rewrite atomicity lives."""
        m = self.manifest(name)
        if m is None:
            raise FileNotFoundError(f"table '{name}' does not exist")
        mutator(m)
        tdir = self._table_dir(name)
        tmp = os.path.join(tdir, f"_manifest.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        shutil.copy(tmp, os.path.join(tdir, f"_manifest_v{m['version']}.json"))
        os.replace(tmp, self._manifest_path(name))
        return m

    def history(self, name: str) -> list[dict]:
        """All committed manifests, newest first (cf. DeltaTable.history)."""
        tdir = self._table_dir(name)
        out = []
        if not os.path.isdir(tdir):
            return out
        for fn in os.listdir(tdir):
            if fn.startswith("_manifest_v") and fn.endswith(".json"):
                with open(os.path.join(tdir, fn)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["version"], reverse=True)

    # -- IO ----------------------------------------------------------------

    def read(self, spark: SparkSession, name: str,
             snapshot: dict | None = None) -> DataFrame:
        """The current version, or exactly ``snapshot`` (a dict from
        :meth:`manifest`): a read-modify-write reads the version it then
        pins as ``_expected_base``, not whatever is current by then."""
        m = self.manifest(name) if snapshot is None else snapshot
        if m is None:
            raise FileNotFoundError(f"table '{name}' does not exist in {self.root}")
        return self._read_manifest(spark, m)

    def _read_manifest(self, spark: SparkSession, m: dict) -> DataFrame:
        """Scan a manifest's dir set. Dirs with a recorded read-back
        schema (``_dir_schema``) are planned WITHOUT schema inference —
        no per-dir driver job; dirs without one (pre-r12 manifests,
        hand-built fixtures) fall back to inference."""
        schemas = m.get("schemas") or {}
        if m["partition_by"]:
            # hive-partitioned dirs: each data directory needs ITS OWN
            # basePath for partition-column discovery (one basePath cannot
            # cover sibling commit dirs), so multi-commit snapshots are a
            # union of per-dir scans — collapsed back to one by compaction
            frames = [self._dir_frame(spark, d, schemas.get(d))
                      for d in m["dirs"]]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out
        known = [schemas.get(d) for d in m["dirs"]]
        if all(known) and len(set(known)) == 1:
            # one shared schema: a single multi-path scan, zero inference
            return (spark.read.schema(self._schema_of(known[0]))
                    .parquet(*m["dirs"]))
        return spark.read.parquet(*m["dirs"])

    @staticmethod
    def _schema_of(schema_json: str):
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(schema_json))

    def _dir_frame(self, spark: SparkSession, d: str,
                   schema_json: str | None) -> DataFrame:
        reader = spark.read
        if schema_json:
            reader = reader.schema(self._schema_of(schema_json))
        return reader.option("basePath", d).parquet(d)

    def read_version(self, spark: SparkSession, name: str, version: int) -> DataFrame:
        """Time travel to an historical version. Applies the same per-dir
        ``basePath`` handling as :meth:`read` (a partitioned multi-dir
        version must rediscover its hive partition columns per data
        directory), and fails with a clear vacuumed-version error instead
        of a raw Spark path error when the dirs are gone — the
        ``maintenance.restore`` missing-dirs discipline, shared by every
        pinned reader (``load_model(version=...)``,
        ``open_index(version=...)``)."""
        for m in self.history(name):
            if m["version"] != version:
                continue
            missing = [d for d in m["dirs"] if not os.path.isdir(d)]
            if missing:
                raise FileNotFoundError(
                    f"version {version} of '{name}' was vacuumed; "
                    f"missing {missing}")
            return self._read_manifest(spark, m)
        raise FileNotFoundError(f"table '{name}' has no version {version}")

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
        # entries are recorded even with no declared stats columns:
        # path/rows/bytes cost one footer read each, and the hive partition
        # values embedded in paths make partition pruning (read_where,
        # dml.delete_where/update_where) work on any partitioned table
        from projectone_spark.store.skipping import file_stats, value_set_stats

        entries = file_stats(dirs, stats_columns)
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
        optimize) pass ``_expected_base`` so a concurrent append makes
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

    def selective_overwrite(self, spark: SparkSession, df: DataFrame, name: str,
                            replace_where: str | None = None,
                            partition_values: dict[str, list] | None = None,
                            partition_by: Sequence[str] | None = None) -> int:
        """Delta ``replaceWhere`` semantics (the reference declares
        `selective_overwrite` but never implemented it — sources.py:85).

        Two paths:
        - ``partition_values`` on a partitioned table: rewrite only the
          matching partition directories; untouched partitions are
          hard-linked into the new version (metadata-only at cloud scale);
        - general ``replace_where`` predicate: keep-rows = anti-filter of
          the current snapshot, union with the new data, full snapshot swap
          (the fallback Delta itself uses for non-partition predicates).
        """
        m = self.manifest(name)
        if m is None:
            return self.overwrite(spark, df, name, partition_by)
        part = m["partition_by"]

        if partition_values and part and set(partition_values) <= set(part):
            new_dir = self._new_data_dir(name)
            data_schema = self._write_dir(df, new_dir, part)
            # re-link every old partition dir that is NOT being replaced
            replaced = {
                f"{col}={v}" for col, vals in partition_values.items() for v in vals
            }
            linked = False
            for old in m["dirs"]:
                for entry in os.listdir(old):
                    src = os.path.join(old, entry)
                    if not os.path.isdir(src) or entry in replaced:
                        continue
                    dst = os.path.join(new_dir, entry)
                    if not os.path.exists(dst):
                        _link_tree(src, dst)
                        linked = True
            cols = m.get("stats_columns") or []
            sets = m.get("set_columns") or []
            # a re-linked dir mixes fresh files with files from prior
            # commits; record its read-back schema ONLY when uniformity
            # is provable — every linked-from dir carries the same
            # recorded schema and both the fresh data (pre-link) and the
            # whole dir (post-link) infer to exactly it. Otherwise leave
            # the dir unrecorded: readers fall back to inference and
            # read_merged keeps its true footer-merging path (its fast
            # path relies on recorded dirs being internally uniform).
            post_schema = self._dir_schema(spark, new_dir, part)
            prior = {(m.get("schemas") or {}).get(d) for d in m["dirs"]}
            uniform = (not linked) or (prior == {post_schema}
                                       and data_schema == post_schema)
            return self._commit(name, [new_dir], part, "selective_overwrite",
                                {"replaced_partitions": sorted(replaced)},
                                stats_columns=cols, set_columns=sets,
                                files=self._stats_for([new_dir], cols, sets),
                                schemas=({new_dir: post_schema}
                                         if uniform else None))

        if replace_where is None and partition_values:
            replace_where = " AND ".join(
                "({})".format(" OR ".join(f"{c} = {v!r}" for v in vals))
                for c, vals in partition_values.items())
        if replace_where is None:
            raise ValueError("selective_overwrite needs replace_where or partition_values")
        current = self.read(spark, name)
        kept = current.filter(f"NOT ({replace_where})")
        merged = kept.unionByName(df, allowMissingColumns=False)
        return self.overwrite(spark, merged, name, part or None)


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
    ``tests/test_r13_fastpaths.py``."""
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


def create_if_not_exists(store: TableStore, spark: SparkSession, table,
                         ) -> int | None:
    """Materialize a Table contract if absent (reference
    ``DeltaTable.createIfNotExists`` feature, ``core/utils/delta.py:84-133``):
    an empty version-0 snapshot with the declared schema; partition spec,
    properties, comment, and column metadata recorded in the manifest.
    Returns the created version, or None when the table already exists."""
    from projectone_spark.config.data_objects import Table
    from projectone_spark.features import parse_ddl

    assert isinstance(table, Table)
    if store.exists(table.name):
        return None
    empty = spark.createDataFrame([], parse_ddl(table.ddl()))
    v = store.overwrite(spark, empty, table.name,
                        table.partition_by or None)

    def _enrich(m: dict) -> None:
        m["operation"] = "create"
        m["properties"] = dict(table.properties)
        m["comment"] = table.comment
        m["columns"] = [c.model_dump() for c in table.columns]

    store.amend_manifest(table.name, _enrich)
    return v


def last_commit_stats(store: TableStore, name: str) -> dict:
    """Last-commit operation stats (reference ``get_last_write_stats``,
    ``core/utils/delta.py:135-168``): operation, version, file count and
    byte size of the current snapshot — all from metadata, no Spark job."""
    m = store.manifest(name)
    if m is None:
        raise FileNotFoundError(f"table '{name}' does not exist")
    n_files = 0
    n_bytes = 0
    for d in m["dirs"]:
        for dirpath, _, files in os.walk(d):
            for fn in files:
                if fn.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, fn))
    return {"operation": m["operation"], "version": m["version"],
            "committed_at": m["committed_at"], "num_files": n_files,
            "num_bytes": n_bytes, "partition_by": m["partition_by"]}


def _link_tree(src: str, dst: str) -> None:
    """Hard-link a directory tree (fallback: copy). Stands in for the
    manifest-only file re-add a cloud table format would do."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        s, d = os.path.join(src, entry), os.path.join(dst, entry)
        if os.path.isdir(s):
            _link_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def read_changes(store: TableStore, spark: SparkSession, name: str,
                 starting_version: int, ending_version: int | None = None):
    """Change-feed read between versions — the engine's analogue of Delta
    CDF (reference reads ``readChangeFeed`` with start/end versions,
    ``delta_source.py:32-45``).

    Append commits are metadata-only: the delta is exactly the data
    directories the commit added, so reading changes costs one scan of the
    new files. DML commits (delete/update/merge) record their exact
    read/write file sets, so the delta diffs only the touched files —
    cost ∝ files changed, not table size. Other snapshot-rewriting commits
    (overwrite / scd merges) don't materialize change files in this store,
    so the delta is computed as exceptAll both ways — correct, but a full
    compare; a production deployment on Delta gets those change files for
    free at write time.

    Output adds ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` columns, mirroring CDF's shape.
    """
    import pyspark.sql.functions as F

    def _read_paths(by_dir: dict, part: list) -> DataFrame | None:
        frames = []
        for d, ps in by_dir.items():
            if not ps:
                continue
            r = spark.read
            if part:
                r = r.option("basePath", d)
            frames.append(r.parquet(*ps))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    history = {m["version"]: m for m in store.history(name)}
    if not history:
        raise FileNotFoundError(f"table '{name}' does not exist")
    end = ending_version if ending_version is not None else max(history)
    frames = []
    for v in range(starting_version, end + 1):
        m = history.get(v)
        if m is None:
            continue
        prev = history.get(v - 1)
        if m["operation"] == "append" and prev is not None:
            new_dirs = [d for d in m["dirs"] if d not in set(prev["dirs"])]
            if new_dirs:
                frames.append(spark.read.parquet(*new_dirs)
                              .withColumn("_change_type", F.lit("insert"))
                              .withColumn("_commit_version", F.lit(v)))
            continue
        changed_old = (m.get("metrics") or {}).get("changed_old")
        if changed_old is not None and prev is not None:
            part = m["partition_by"]
            nd = m["dirs"][0]
            old = _read_paths(changed_old, part)
            new = _read_paths({nd: (m["metrics"].get("changed_new") or [])},
                              part)
            empty = store.read(spark, name).limit(0)
            old = old if old is not None else empty
            new = new if new is not None else empty
        else:
            new = spark.read.parquet(*m["dirs"])
            old = (spark.read.parquet(*prev["dirs"]) if prev is not None
                   else new.limit(0))
        frames.append(new.exceptAll(old)
                      .withColumn("_change_type", F.lit("insert"))
                      .withColumn("_commit_version", F.lit(v)))
        frames.append(old.exceptAll(new)
                      .withColumn("_change_type", F.lit("delete"))
                      .withColumn("_commit_version", F.lit(v)))
    if not frames:
        raise ValueError(f"no commits in ({starting_version}, {end}] for '{name}'")
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
