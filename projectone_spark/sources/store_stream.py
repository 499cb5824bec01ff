"""The TableStore as a Structured Streaming SOURCE — parity with Delta's
``spark.readStream.table(...)`` (the reference reads streams from Delta
tables, ``core/sources/delta_source.py:19-30`` with
``source_extract_type="stream"``).

Implemented as a Spark 4 Python DataSource with a partition-based stream
reader:

- offsets are manifest versions (``{"version": n}``) — exactly Delta's
  reservoir of commit versions;
- each micro-batch plans ONE InputPartition per data file added in the
  version range, so executors read files in parallel with pyarrow and the
  driver only ever touches manifest metadata;
- append commits stream their added files as inserts; data-changing
  commits (delete/update/merge/compact/zorder/restore) RAISE unless
  ``skipChangeCommits=true`` — Delta's exact contract for streaming from a
  mutated table. A commit that keeps its parent's files changes no data.

Scale: the per-batch planning cost is O(files added) and opens one manifest
per version in the batch's range, read cost is the new files only, and
rate is boundable upstream via the trigger. Hive-partitioned tables
stream with their partition columns reattached per file as typed
constants (pyarrow's hive inference — the same types a batch read
discovers).
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from projectone_spark.store import TableStore, _dir_of


def _current(root: str, table: str) -> tuple[TableStore, dict]:
    """The table's store and current manifest; raises "does not exist"
    before ``TableStore`` would create a mistyped root."""
    if not os.path.isdir(os.path.join(root, table)):
        raise FileNotFoundError(
            f"table '{table}' does not exist under {root}")
    store = TableStore(root)
    return store, store.snapshot(table)


def _files_of(m: dict) -> list[str]:
    """Every data file of a snapshot."""
    return [f["path"] for f in m["files"]]


class StoreFilePartition(InputPartition):
    def __init__(self, path: str, version: int, base_dir: str):
        self.path = path
        self.version = version
        self.base_dir = base_dir


def _arrow_schema(m: dict):
    """Arrow schema of a snapshot, hive partition columns included and
    TYPED (pyarrow's hive partitioning inference — the same types a batch
    ``spark.read.parquet(dir)`` discovers)."""
    import pyarrow.dataset as pads

    if not m["partition_by"]:
        import pyarrow.parquet as pq

        files = _files_of(m)
        if not files:
            raise ValueError("no data files to infer a schema from")
        return pq.ParquetFile(files[0]).schema_arrow
    return pads.dataset(m["dirs"][0], format="parquet",
                        partitioning="hive").schema


class StoreChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        opts = {k.lower(): v for k, v in options.items()}
        self.table = opts["table"]
        self.skip_change_commits = (
            str(opts.get("skipchangecommits", "false")).lower() == "true")
        start = opts.get("startingversion")
        self._initial = int(start) if start is not None else -1
        self._store, m = _current(opts["root"], self.table)
        self._schema = _arrow_schema(m)  # pickled to executors

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        return {"version": self._store.version(self.table)}

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        for prev, m in self._store._commits(
                self.table, start["version"] + 1, end["version"]):
            v = m["version"]
            seen = set(_files_of(prev)) if prev is not None else set()
            if m["operation"] != "append" and prev is not None:
                # a value-set build keeps its parent's files: no change
                if self.skip_change_commits or seen == set(_files_of(m)):
                    continue
                raise ValueError(
                    f"version {v} of '{self.table}' is a "
                    f"'{m['operation']}' commit; streaming sources only "
                    f"support appends — set skipChangeCommits=true to "
                    f"ignore data-changing commits (Delta's contract)")
            for p in _files_of(m):
                if p not in seen:
                    parts.append(StoreFilePartition(p, v, _dir_of(m, p)))
        return parts

    def read(self, partition: StoreFilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from projectone_spark.store.skipping import partition_values

        # Arrow RecordBatches, not per-row tuples: the reader stays
        # zero-copy from parquet decode to Spark ingestion
        rel = os.path.relpath(partition.path, partition.base_dir)
        pvals = partition_values(rel)
        for batch in pq.ParquetFile(partition.path).iter_batches():
            if not pvals:
                yield batch
                continue
            # attach hive partition columns as typed constants, emitting
            # columns in the declared schema's order
            arrays, names = [], []
            for f in self._schema:
                if f.name in pvals:
                    sc = pa.scalar(pvals[f.name]).cast(f.type)
                    arrays.append(pa.repeat(sc, batch.num_rows))
                    names.append(f.name)
                elif f.name in batch.schema.names:
                    arrays.append(batch.column(f.name))
                    names.append(f.name)
            yield pa.RecordBatch.from_arrays(arrays, names)

    def commit(self, end: dict) -> None:
        pass


class StoreChangesDataSource(DataSource):
    """``spark.readStream.format("store_changes").option("root", ...)
    .option("table", ...).load()``"""

    @classmethod
    def name(cls) -> str:
        return "store_changes"

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        _, m = _current(self.options["root"], self.options["table"])
        return from_arrow_schema(_arrow_schema(m), prefer_timestamp_ntz=True)

    def streamReader(self, schema: StructType) -> StoreChangesStreamReader:
        return StoreChangesStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(StoreChangesDataSource)


def stream_from_store(spark, store, table: str, *,
                      skip_change_commits: bool = False,
                      starting_version: int | None = None):
    """Convenience: a streaming DataFrame of rows appended to a store
    table (Delta ``readStream.table`` parity)."""
    register(spark)
    r = (spark.readStream.format("store_changes")
         .option("root", store.root).option("table", table))
    if skip_change_commits:
        r = r.option("skipChangeCommits", "true")
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    return r.load()
