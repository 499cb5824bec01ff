"""Attribute-based change data capture: the incremental scan-predicate state
machine (reference ``core/sources/delta_source.py:251-333`` and the identical
file logic ``core/sources/file_source.py:814-896``).

Boundary semantics preserved exactly:
- first run:   start = min(attr), end = max(attr); filter ``attr >= start
  AND attr <= end``;
- later runs:  start = prev.next_value, end = max(attr WHERE attr > start);
  filter ``attr > start AND attr <= end``; when end == start the filter is
  ``attr = start``; when there is no new data the filter is ``1=2``
  (read-nothing, state unchanged);
- backfill:    explicit [start_value, end_value], inclusive range filter.

Differences from the reference (deliberate, SURVEY §7.5 hazard): predicates
are built as ``Column`` expressions with typed literals, never
string-interpolated SQL (the reference's ``get_spark_string_value``,
``core/schemas/state.py:62-76``). State persists via
:class:`projectone_spark.store.state.StateStore` under the reference's
``{input}_cdc_value`` key shape (``core/task/spark/task.py:519-544``).

Where the bounds come from: :func:`resolve_cdc` takes them either from a
Spark aggregate over the whole source (one job per run, scanning every
landed file, as in the reference) or, when the caller passes
``file_bounds``, from per-file min/max values with no Spark job at all.
For a local directory of parquet files read with no options, ``SparkTask``
plans the run without Spark: it lists the files in Python with Spark's
hidden-file rule, takes each file's bounds and schema key from its footer
(``store.skipping.footer_bounds``), and takes the Spark schema from a
record in its ``StateStore`` kept per schema key, so no schema-inference
job runs while the key is unchanged. It then builds one frame, with that
schema, over the files :func:`new_file_bounds` picks (landed files never
change). A subdirectory, a parquet summary file, a streaming sink's
``_spark_metadata`` log or a read option leaves the listing and the
inference to Spark, and the bounds then come from the footers of the
files Spark listed. Either way it falls back to the
aggregate for a backfill, a user ``source_schema``, a non-``file:`` or
hive-partitioned source, an attribute that is not int, long, date,
timestamp or timestamp_ntz, NANOS or INT96 timestamps, any row group
with rows but no min/max (an all-null chunk), and a saved watermark that
is not of the bounds' Python type (a backfill's string range end, or a
tz-aware datetime), which only Spark compares as the aggregate does.
The boundary rules above live only in :func:`resolve_cdc` and
:func:`new_file_bounds`, and the data read itself stays lazy.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import asdict, dataclass
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from projectone_spark.store.state import StateStore


@dataclass
class CdcState:
    """Mirrors the reference ``ChangeDataCaptureState``
    (``core/schemas/state.py:77-111``)."""

    attribute: str
    start_value: Any = None
    next_value: Any = None
    load_type: str = "incremental"  # incremental | backfill
    batch_id: str | None = None

    def to_json(self) -> dict:
        return asdict(self)

    @classmethod
    def from_json(cls, d: dict | None) -> "CdcState | None":
        return None if d is None else cls(**d)


def NO_DATA() -> Column:
    """Read-nothing predicate (reference's literal ``1=2`` filter). A
    function because Column construction needs a live SparkContext."""
    return F.expr("1=2")


def new_file_bounds(file_bounds: Sequence[tuple[str, Any, Any]],
                    prev: CdcState | None) -> list[tuple[str, Any, Any]]:
    """The ``(path, min, max)`` entries whose files can hold rows past the
    watermark of ``prev``: every entry on a first run."""
    if prev is None or prev.next_value is None:
        return list(file_bounds)
    return [b for b in file_bounds if b[2] > prev.next_value]


def resolve_cdc(df: DataFrame, attribute: str,
                prev: CdcState | None = None,
                backfill: tuple[Any, Any] | None = None,
                batch_id: str | None = None, *,
                file_bounds: Sequence[tuple[str, Any, Any]] | None = None,
                ) -> tuple[Column, CdcState]:
    """Compute the incremental filter predicate and the post-run state.

    Returns ``(predicate, new_state)``. Apply the predicate with
    ``df.filter(predicate)``; persist ``new_state`` only after the run
    succeeds (reference persists post-success, ``task.py:519-544``).

    ``file_bounds`` lists ``(path, min, max)`` of ``attribute`` for every
    non-empty file of the source, exact as Spark would ``collect()`` them
    and of the same Python type as ``prev.next_value``. With it no Spark
    job runs, and ``df`` need only read the files of
    :func:`new_file_bounds`. Without it, the bounds come from an
    aggregate over ``df``. A backfill reads every file and takes no
    ``file_bounds``.
    """
    attr = F.col(attribute)

    if backfill is not None:
        if file_bounds is not None:
            raise ValueError("a backfill reads every file; pass no file_bounds")
        start, end = backfill
        state = CdcState(attribute, start, end, "backfill", batch_id)
        return (attr >= F.lit(start)) & (attr <= F.lit(end)), state

    first = prev is None or prev.next_value is None
    start = None if first else prev.next_value
    if file_bounds is not None:
        chosen = new_file_bounds(file_bounds, prev)
        lo = min((b[1] for b in chosen), default=None) if first else start
        hi = max((b[2] for b in chosen), default=None)
    elif first:
        row = df.agg(F.min(attr).alias("lo"), F.max(attr).alias("hi")).collect()[0]
        lo, hi = row["lo"], row["hi"]
    else:
        lo = start
        hi = (df.filter(attr > F.lit(start))
              .agg(F.max(attr).alias("hi")).collect()[0]["hi"])

    if first:
        if lo is None:  # empty source
            pred = NO_DATA()
            state = CdcState(attribute, None, None, "incremental", batch_id)
        else:
            state = CdcState(attribute, lo, hi, "incremental", batch_id)
            pred = (attr >= F.lit(lo)) & (attr <= F.lit(hi))
    elif hi is None:  # no new data: read nothing, keep state
        pred = NO_DATA()
        state = CdcState(attribute, start, start, "incremental", batch_id)
    else:
        state = CdcState(attribute, start, hi, "incremental", batch_id)
        if hi == start:  # degenerate equal-bound case (delta_source.py:311-328)
            pred = attr == F.lit(start)
        else:
            pred = (attr > F.lit(start)) & (attr <= F.lit(hi))
    return pred, state


def load_cdc_state(state_store: StateStore, input_name: str) -> CdcState | None:
    """Read ``{input}_cdc_value`` (reference key shape)."""
    value = state_store.get_value(f"{input_name}_cdc_value", folder="sources")
    return CdcState.from_json(value)


def save_cdc_state(state_store: StateStore, input_name: str,
                   state: CdcState) -> int:
    return state_store.set(f"{input_name}_cdc_value", state.to_json(),
                           folder="sources")


def incremental_read(df: DataFrame, attribute: str, state_store: StateStore,
                     input_name: str,
                     backfill: tuple[Any, Any] | None = None,
                     batch_id: str | None = None) -> tuple[DataFrame, CdcState]:
    """Convenience wrapper: resolve against persisted state and return the
    filtered frame plus the state to persist on success."""
    prev = load_cdc_state(state_store, input_name)
    pred, new_state = resolve_cdc(df, attribute, prev, backfill, batch_id)
    return df.filter(pred), new_state


def store_cdf_read(store, spark, table: str, state_store: StateStore,
                  input_name: str):
    """Version-watermark incremental read over TableStore's change feed —
    the engine's ``delta_cdc_feed`` mode (reference
    ``delta_source.py:198-250``: start/end = commit versions from history,
    persisted per input). Returns ``(changes_df, new_state)``; persist the
    state only after the run succeeds."""
    from projectone_spark.store import read_changes

    key = f"{input_name}_cdf_version"
    prev = state_store.get_value(key, folder="sources", default=-1)
    current = store.version(table)
    if current <= prev:
        raise ValueError(f"no new commits for '{table}' (at version {current})")
    df = read_changes(store, spark, table, prev + 1, current)
    return df, {"key": key, "version": current}


def save_cdf_state(state_store: StateStore, new_state: dict) -> int:
    return state_store.set(new_state["key"], new_state["version"],
                           folder="sources")
