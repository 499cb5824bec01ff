"""File-level data skipping for the TableStore — the engine's analogue of
Delta Lake data skipping + OPTIMIZE ZORDER.

The reference relies on Delta for file pruning (its merge conditions add
partition-column conjuncts precisely so Delta can skip files —
``core/execution/write.py:190-213`` and option docs
``core/schemas/sources.py:141-149``). This container has no delta-spark, so
the TableStore records the same metadata Delta would:

- **per-file min/max statistics** for declared ``stats_columns``, read from
  parquet footers at commit time (metadata-only — no data scan; on a real
  cluster the writer tasks would report these in their commit messages, the
  way Delta's ``add`` actions carry ``stats`` JSON);
- **hive partition values** parsed from file paths.

``read_where`` then prunes the file list with interval logic before Spark
ever plans the scan, and applies the full predicate as a residual filter so
results are exact even when a predicate can't be used for pruning.

Scale notes: pruning is O(#files) driver-side metadata work — the same cost
profile as Delta's log replay — and the payoff is proportional to data
clustered-ness, which is what ``maintenance.zorder_cluster`` (Z-order
multi-column clustering via bit interleaving) restores after many unordered
appends.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import urllib.parse
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from projectone_spark.store import ConcurrentWriteError

#: comparison operators usable for pruning; anything else is residual-only.
#: "in" takes an iterable literal and prunes via both interval and
#: value-set stats.
_PRUNE_OPS = {"=", "==", "<", "<=", ">", ">=", "in"}


# -- stats collection --------------------------------------------------------

def _norm_stat(v):
    """Normalize a parquet-footer statistic to a JSON-storable value whose
    natural ordering matches the column's ordering (ISO strings for
    date/timestamp — lexicographic == chronological)."""
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return v


def _chunk_bounds(st) -> tuple | None:
    """Normalized ``(min, max)`` of one column chunk's footer statistics,
    or None when the chunk has none that decode exactly."""
    if st is None or not st.has_min_max:
        return None
    lt = json.loads(st.logical_type.to_json())
    if lt["Type"] == "Decimal" and st.physical_type in ("INT32", "INT64"):
        # pyarrow raises on these (Spark's layout for precision <= 18);
        # the raw value is the unscaled integer
        return tuple(_norm_stat(decimal.Decimal(v).scaleb(-lt["scale"]))
                     for v in (st.min_raw, st.max_raw))
    try:
        lo, hi = _norm_stat(st.min), _norm_stat(st.max)
    except NotImplementedError:  # any other type pyarrow cannot decode
        return None
    return None if lo is None or hi is None else (lo, hi)


def file_stats(dirs: Sequence[str], columns: Sequence[str]) -> list[dict]:
    """Per-file {path, rows, bytes, min, max} for ``columns``, from parquet
    footers only. A column missing trustworthy stats in any row group is
    dropped from that file's entry (pruning then keeps the file)."""
    import pyarrow.parquet as pq

    from projectone_spark.store import _data_files

    out: list[dict] = []
    for path in _data_files(dirs):
        md = pq.ParquetFile(path).metadata
        mins: dict = {}
        maxs: dict = {}
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if name not in columns or name in bad:
                    continue
                bounds = _chunk_bounds(c.statistics)
                if bounds is None:
                    bad.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                lo, hi = bounds
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        out.append({"path": path, "rows": md.num_rows,
                    "bytes": os.path.getsize(path),
                    "min": mins, "max": maxs})
    return out


#: 1900-01-01 in days and micros since the epoch. Spark may rebase older
#: date/timestamp values between calendars on read, so a footer value
#: below this floor is not trusted to equal what Spark returns.
_FLOOR_DAYS = -25_567
_FLOOR_MICROS = _FLOOR_DAYS * 86_400 * 1_000_000


def _raw_scale(col, data_type: T.DataType) -> tuple[int, float] | None:
    """``(scale, floor)`` such that ``raw * scale`` is Spark's internal value
    for one parquet column read as ``data_type`` and is exact from
    ``floor`` up; None when footer values are not exact Spark values
    (unsigned ints, nanosecond or INT96 timestamps, other types)."""
    phys = col.physical_type
    lt = json.loads(col.logical_type.to_json())
    kind = lt["Type"]
    if isinstance(data_type, (T.IntegerType, T.LongType)):
        signed = kind == "None" or (kind == "Int" and lt["isSigned"])
        fits = phys == "INT32" or (phys == "INT64" and isinstance(data_type, T.LongType))
        return (1, -math.inf) if signed and fits else None
    if isinstance(data_type, T.DateType):
        return (1, _FLOOR_DAYS) if phys == "INT32" and kind == "Date" else None
    utc = isinstance(data_type, T.TimestampType)
    if not (utc or isinstance(data_type, T.TimestampNTZType)):
        return None
    if phys != "INT64" or kind != "Timestamp" or lt["isAdjustedToUTC"] != utc:
        return None
    scale = {"milliseconds": 1000, "microseconds": 1}.get(lt["timeUnit"])
    return None if scale is None else (scale, _FLOOR_MICROS)


def footer_bounds(paths: Sequence[str], column: str, data_type: T.DataType,
                  footers: Sequence | None = None,
                  ) -> list[tuple[str, object, object]] | None:
    """Exact per-file ``(path, min, max)`` of one int/long/date/timestamp
    column, from parquet footers only, as the Python values Spark's
    ``collect()`` of ``min``/``max`` returns for ``data_type``. Files with
    no rows are left out. Returns None when any file cannot give exact
    bounds: the column is missing or of another physical type, or a row
    group holding rows has no min/max (an all-null chunk). ``footers``,
    the files' pyarrow ``FileMetaData`` in ``paths`` order, saves opening
    them again."""
    import pyarrow.parquet as pq

    if footers is None:
        footers = [pq.read_metadata(p) for p in paths]
    out: list[tuple[str, object, object]] = []
    for path, md in zip(paths, footers):
        if md.num_rows == 0:
            continue
        ci = next((i for i in range(md.num_columns)
                   if md.schema.column(i).path == column), None)
        spec = None if ci is None else _raw_scale(md.schema.column(ci), data_type)
        if spec is None:
            return None
        lo = hi = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            if g.num_rows == 0:
                continue
            st = g.column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min_raw if lo is None else min(lo, st.min_raw)
            hi = st.max_raw if hi is None else max(hi, st.max_raw)
        scale, floor = spec
        if lo * scale < floor:
            return None
        out.append((path, data_type.fromInternal(lo * scale),
                    data_type.fromInternal(hi * scale)))
    return out


def value_set_stats(path: str, columns: Sequence[str],
                    cap: int = 64) -> dict[str, list]:
    """Per-file DISTINCT VALUE SETS for low-cardinality columns — the
    complement to min/max skipping. A status/category/tenant column is
    useless to interval pruning (every file spans 'A'..'Z') but its
    per-file distinct set is tiny and prunes ``=``/``IN`` predicates
    exactly. Columns whose per-file distinct count exceeds ``cap`` record
    nothing (pruning stays an optimization, never a correctness filter).

    Cost: one bounded single-column read of a file the writer just
    produced — the indexing pass Delta performs inline when collecting
    ``stats`` on write.
    """
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    avail = [c for c in columns if c in pf.schema_arrow.names]
    out: dict[str, list] = {}
    if not avail:
        return out
    tbl = pf.read(columns=avail)
    for c in avail:
        uniq = pc.unique(tbl.column(c).combine_chunks())
        if len(uniq) > cap:
            continue
        vals = []
        usable = True
        for v in uniq.to_pylist():
            if v is None:
                continue  # '=' / IN literals never match NULL anyway
            nv = v if isinstance(v, (bool, int, float, str)) else _norm_stat(v)
            if nv is None:
                usable = False
                break
            vals.append(nv)
        if usable:
            out[c] = sorted(vals, key=lambda x: (type(x).__name__, str(x)))
    return out


def add_value_set_stats(store, name: str, columns: Sequence[str],
                        cap: int = 64) -> dict:
    """Commit a version of ``name`` whose file entries carry distinct-value
    sets for ``columns`` — an index build that changes metadata only: it
    keeps its parent's files and stamps, and records that it changed no
    file. Files already carrying sets are skipped, so running this after
    each commit only reads NEW files. Returns the new manifest. The commit
    pins the version the files were listed from; when another lands
    first, the build re-reads, reads only the files that one added, and
    commits again."""
    found: dict[str, dict] = {}
    while True:
        m = store.snapshot(name)
        files = []
        for f in m["files"]:
            need = [c for c in columns if c not in (f.get("vals") or {})]
            if need and f["path"] not in found:
                found[f["path"]] = value_set_stats(f["path"], need, cap)
            vals = found.get(f["path"]) if need else None
            files.append({**f, "vals": {**(f.get("vals") or {}), **vals}}
                         if vals else f)
        try:
            v = store._commit(
                name, m["dirs"], m["partition_by"], "value_sets",
                {"changed_old": {}, "changed_new": []},
                stats_columns=m["stats_columns"],
                set_columns=sorted(set(m["set_columns"]) | set(columns)),
                files=files, expected_base=m["version"],
                schemas=m.get("schemas"))
        except ConcurrentWriteError:
            continue
        return store.snapshot(name, v)


def _eq_forms(v) -> set:
    """Comparable spellings of a value for conservative set-membership
    checks (numeric widening + date→timestamp padding + temporal→ISO
    string, matching how ``_norm_stat`` stores footer values). A spurious
    extra form can only KEEP a file, never drop one."""
    forms = {v}
    # datetime/date literals must meet the ISO strings value_set_stats
    # stores (via _norm_stat) — without these forms a timestamp predicate
    # "provably excludes" a file that contains the exact value.
    if isinstance(v, datetime.datetime):
        forms.add(v.isoformat(sep=" "))
        forms.add(v.isoformat())
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            forms.add(v.date().isoformat())
        return forms
    if isinstance(v, datetime.date):
        forms.add(v.isoformat())
        forms.add(v.isoformat() + " 00:00:00")
        return forms
    if not isinstance(v, bool):
        try:
            forms.add(float(v))
        except (TypeError, ValueError):
            pass
    if isinstance(v, str) and _DATE_RE.match(v):
        forms.add(v + " 00:00:00")
    if isinstance(v, str) and v.endswith(" 00:00:00"):
        forms.add(v[:-9])
    if isinstance(v, str) and _TS_PREFIX_RE.match(v):
        # Spark truncates a timestamp-precision literal when the column is
        # DATE, so 'd = TIMESTAMP 12:00' can match a date-valued file: the
        # truncated form keeps it (extra forms only ever KEEP files; the
        # residual filter stays the ground truth)
        forms.add(v[:10])
    return forms


#: literal types _eq_forms can provably map onto the stored-value domain
#: (bool/int/float/str after _norm_stat). Anything else → keep the file,
#: mirroring _coerced's keep-on-uncertainty rule.
_SET_PRUNABLE_TYPES = (bool, int, float, str,
                       datetime.datetime, datetime.date, decimal.Decimal)


def _set_excludes(stored_vals: Sequence, val) -> bool:
    """True only when ``val`` PROVABLY is not in the file's value set."""
    if not isinstance(val, _SET_PRUNABLE_TYPES):
        return False  # can't trust the comparison → keep the file
    if isinstance(val, decimal.Decimal):
        val = float(val)
    want = _eq_forms(val)
    return all(not (want & _eq_forms(s)) for s in stored_vals)


def partition_values(path: str) -> dict[str, str]:
    """Hive ``col=value`` components of a file path (unescaped)."""
    out: dict[str, str] = {}
    for part in path.split(os.sep):
        if "=" in part and not part.endswith(".parquet"):
            col, _, val = part.partition("=")
            out[col] = urllib.parse.unquote(val)
    return out


# -- pruning -----------------------------------------------------------------

_DATE_RE = __import__("re").compile(r"^\d{4}-\d{2}-\d{2}$")


def _pad_temporal(a, b):
    """Make a date-only string comparable with a timestamp string the way
    SQL does (DATE 'd' == TIMESTAMP 'd 00:00:00'). Only strings that look
    exactly like ISO dates are padded — plain text is left alone."""
    if isinstance(a, str) and isinstance(b, str) and (" " in a) != (" " in b):
        if _DATE_RE.match(a):
            a = a + " 00:00:00"
        if _DATE_RE.match(b):
            b = b + " 00:00:00"
    return a, b


def _coerced(lo, hi, val, from_partition_path: bool = False):
    """Coerce (lo, hi, val) to one comparable type, or None when the
    comparison can't be trusted (→ caller keeps the file).

    ``from_partition_path`` bounds came from a hive path component, whose
    type Spark INFERS — a numeric-looking directory value is an int column
    to Spark, so '9' must order below '10' numerically there. Footer stats
    of a true string column stay lexicographic (matching Spark's own
    string comparison in the residual filter)."""
    if isinstance(val, bool) or isinstance(lo, bool):
        return None
    if isinstance(val, (int, float)):
        try:
            return float(lo), float(hi), float(val)
        except (TypeError, ValueError):
            return None
    if isinstance(val, str):
        if isinstance(lo, str):
            if from_partition_path:
                try:
                    return float(lo), float(hi), float(val)
                except (TypeError, ValueError):
                    pass  # non-numeric partition value → string semantics
            lo, val1 = _pad_temporal(lo, val)
            hi, val2 = _pad_temporal(hi, val)
            # lo and hi pad independently against the same val; both pads of
            # val are identical because val's shape doesn't change per side
            return lo, hi, val1 if " " in val1 else val2
        try:  # numeric stats vs numeric-looking string literal
            return float(lo), float(hi), float(val)
        except (TypeError, ValueError):
            return None
    return None


def _interval_matches(lo, hi, op: str, val,
                      from_partition_path: bool = False) -> bool:
    """Could a value in [lo, hi] satisfy ``x <op> val``? Conservative:
    uncertain comparisons return True (file kept)."""
    c = _coerced(lo, hi, val, from_partition_path)
    if c is None:
        return True
    lo, hi, val = c
    if op in ("=", "=="):
        return lo <= val <= hi
    if op == "<":
        return lo < val
    if op == "<=":
        return lo <= val
    if op == ">":
        return hi > val
    if op == ">=":
        return hi >= val
    return True


def prune_files(manifest: dict,
                predicates: Sequence[tuple[str, str, object]]) -> tuple[list[dict], int]:
    """Apply conjunctive ``(col, op, literal)`` predicates to the manifest's
    file stats and hive partition paths. Returns (kept_file_entries,
    total_files). Files lacking stats for a predicate column are kept —
    pruning is an optimization, never a correctness filter."""
    predicates = _validate_predicates(predicates)
    files = manifest.get("files") or []
    kept = []
    for f in files:
        parts = partition_values(f["path"])
        keep = True
        for col, op, val in predicates:
            if op not in _PRUNE_OPS:
                continue
            vals_list = (list(val) if op == "in" else [val])
            # temporal literals meet footer stats as the ISO strings
            # _norm_stat stored (lexicographic == chronological), so they
            # participate in interval pruning instead of being kept-on-
            # uncertainty by _coerced
            vals_list = [_norm_stat(v)
                         if isinstance(v, (datetime.datetime, datetime.date))
                         else v for v in vals_list]
            # exact value-set pruning for = / IN where the file carries one
            stored = f.get("vals", {}).get(col)
            if stored is not None and op in ("=", "==", "in"):
                if all(_set_excludes(stored, v) for v in vals_list):
                    keep = False
                    break
                continue  # set says "maybe present" — definitive for =/IN
            if col in parts:
                lo = hi = parts[col]
                from_path = True
            elif col in f.get("min", {}):
                lo, hi = f["min"][col], f["max"][col]
                from_path = False
            else:
                continue
            eff_vals = [_align_temporal(lo, hi, v) for v in vals_list]
            eff_op = "=" if op == "in" else op
            if not any(_interval_matches(lo, hi, eff_op, v, from_path)
                       for v in eff_vals):
                keep = False
                break
        if keep:
            kept.append(f)
    return kept, len(files)


_TS_PREFIX_RE = __import__("re").compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:")


def _align_temporal(lo, hi, v):
    """Align a temporal literal's PRECISION to the file's stats so pruning
    mirrors Spark's own comparison semantics (the residual filter is the
    ground truth):

    - DATE-column stats vs a datetime-precision literal: Spark casts the
      string literal to DATE (truncating the time part), so the literal
      must truncate here too — otherwise ``date_col >= '1995-06-01
      12:00:00'`` lexicographically excludes a min=max=1995-06-01 file
      that Spark's filter MATCHES (silently lost rows).
    - TIMESTAMP-column stats vs a date-only literal: Spark casts the
      string to midnight, so pad '' → ' 00:00:00' (equal-length ISO
      strings keep lexicographic == chronological for every operator).
    """
    if not (isinstance(lo, str) and isinstance(hi, str)
            and isinstance(v, str)):
        return v
    if _DATE_RE.match(lo) and _DATE_RE.match(hi) and _TS_PREFIX_RE.match(v):
        return v[:10]
    if (_TS_PREFIX_RE.match(lo) and _TS_PREFIX_RE.match(hi)
            and _DATE_RE.match(v)):
        return v + " 00:00:00"
    return v


def _validate_predicates(
        predicates: Sequence[tuple[str, str, object]]
) -> list[tuple[str, str, object]]:
    """Reject 'in' values that would silently misbehave — a plain string
    iterates characters, and an empty collection renders ``col IN ()``
    which Spark's parser rejects in the residual filter — and return the
    predicates with every 'in' collection MATERIALIZED to a list: a
    one-shot iterator (generator) would otherwise pass validation, then
    yield nothing downstream and prune every file / render ``IN ()``.
    Callers must use the returned list, not the argument."""
    out: list[tuple[str, str, object]] = []
    for col, op, val in predicates:
        if op != "in":
            out.append((col, op, val))
            continue
        if isinstance(val, (str, bytes)):
            raise ValueError(
                f"'in' predicate on '{col}' got a plain {type(val).__name__}"
                f" — pass a list/tuple/set of values (a string would be"
                f" iterated character by character)")
        try:
            vals = list(val)
        except TypeError:
            raise ValueError(
                f"'in' predicate on '{col}' needs an iterable of values, "
                f"got {type(val).__name__}") from None
        if not vals:
            raise ValueError(
                f"'in' predicate on '{col}' got an empty collection — an "
                f"empty IN list is unsatisfiable and unparseable as SQL; "
                f"filter it out upstream")
        out.append((col, op, vals))
    return out


def sql_ident(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier (embedded backticks
    doubled): spaces, dots, reserved words and non-ASCII letters all stay
    a single column reference. The one quoting rule for every SQL string
    the engine builds (re-exported by ``writers.hashing``)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_literal(val) -> str:
    if isinstance(val, str):
        return "'" + val.replace("'", "''") + "'"
    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, (datetime.datetime, datetime.date)):
        return "'" + val.isoformat(sep=" ") + "'" \
            if isinstance(val, datetime.datetime) \
            else "'" + val.isoformat() + "'"
    if isinstance(val, (int, float)):
        return repr(val)
    raise TypeError(f"unsupported predicate literal {val!r} "
                    f"({type(val).__name__})")


def predicates_to_sql(predicates: Sequence[tuple[str, str, object]]) -> str:
    predicates = _validate_predicates(predicates)
    parts = []
    for col, op, val in predicates:
        if op == "in":
            lits = ", ".join(_sql_literal(v) for v in val)
            parts.append(f"({sql_ident(col)} IN ({lits}))")
        else:
            parts.append(f"({sql_ident(col)} {'=' if op == '==' else op} "
                         f"{_sql_literal(val)})")
    return " AND ".join(parts)


def read_where(store, spark: SparkSession, name: str,
               predicates: Sequence[tuple[str, str, object]]) -> DataFrame:
    """Read a store table with file-level skipping: files whose min/max (or
    partition path) provably exclude every predicate are never given to
    Spark, and the full predicate still runs as a residual filter.

    Equivalent to a Delta scan with data skipping: the driver consults
    commit metadata, hands Spark only the surviving files, and Catalyst's
    own row-group pushdown takes over from there. The file set is the one
    ``TableStore._rewrite`` would read for the same predicates (a file
    whose entry lacks a predicate column's stats is always read: a stats
    gap never drops data), and it is read with the snapshot's recorded
    schemas, so planning runs no job.
    """
    m = store.snapshot(name)
    if not predicates:
        return store.read(spark, name, snapshot=m)
    # materialize once up front: a generator-valued 'in' would otherwise be
    # consumed by the residual-SQL render and arrive empty at prune_files
    predicates = _validate_predicates(predicates)
    touched, _ = store._select_files(m, predicates)
    frame = store._read_files(spark, m, touched)
    if frame is None:
        frame = store.read(spark, name, snapshot=m).limit(0)
    return frame.filter(predicates_to_sql(predicates))


def skipping_report(store, name: str,
                    predicates: Sequence[tuple[str, str, object]]) -> dict:
    """Observability: how much a predicate would skip (files/bytes/rows)."""
    m = store.manifest(name) or {}
    kept, total = prune_files(m, predicates)
    files = m.get("files") or []
    return {
        "files_total": total,
        "files_kept": len(kept),
        "bytes_total": sum(f["bytes"] for f in files),
        "bytes_kept": sum(f["bytes"] for f in kept),
        "rows_total": sum(f["rows"] for f in files),
        "rows_kept": sum(f["rows"] for f in kept),
    }
