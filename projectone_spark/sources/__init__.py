"""Batch/stream source readers.

Generic reads mirror the reference (``core/sources/__init__.py:568-648``):
format + options + optional DDL schema → ``load(path)`` or ``table(name)``,
same for ``readStream``. Per-format wrappers cover the reference's source
classes:

- csv/parquet/json/orc  → ``spark.read.<fmt>`` (file_source.py)
- delta                 → gated on delta-spark availability (delta_source.py)
- store                 → this engine's TableStore tables
- jdbc                  → partitioned parallel read, identical option names
                          (jdbc_source.py:6-85)
- kafka                 → identical option surface, needs the kafka package
                          on the classpath (kafka_source.py)
- odata                 → :mod:`projectone_spark.sources.odata` (Python
                          DataSource with pushdown + count-based partitions)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from projectone_spark.features import parse_ddl


def read_batch(spark: SparkSession, source: str, *,
               path: str | list[str] | None = None, table: str | None = None,
               schema: str | StructType | None = None,
               options: dict[str, Any] | None = None) -> DataFrame:
    """Generic batch read (reference ``core/sources/__init__.py:568-606``).

    ``path`` may list files to read in place of one path. ``schema`` is a
    DDL string, or a ``StructType`` already inferred (a file source then
    runs no schema-inference job)."""
    if source == "store":
        from projectone_spark.store import TableStore

        assert path is not None, "store source needs path=<store_root>:<table>"
        root, _, name = path.rpartition(":")
        return TableStore(root).read(spark, name or table)
    reader = spark.read.format(source)
    if options:
        reader = reader.options(**{k: str(v) for k, v in options.items()})
    if schema:
        reader = reader.schema(parse_ddl(schema) if isinstance(schema, str)
                               else schema)
    if table is not None:
        return reader.table(table)
    return reader.load(path)


def read_stream(spark: SparkSession, source: str, *,
                path: str | None = None, table: str | None = None,
                schema: str | None = None,
                options: dict[str, Any] | None = None) -> DataFrame:
    """Generic stream read (reference ``core/sources/__init__.py:608-648``).

    File-based streaming sources require an explicit schema (Spark rule);
    the reference hits the same constraint via its source_schema option.
    """
    reader = spark.readStream.format(source)
    if options:
        reader = reader.options(**{k: str(v) for k, v in options.items()})
    if schema:
        reader = reader.schema(parse_ddl(schema))
    if table is not None:
        return reader.table(table)
    return reader.load(path)


def read_jdbc(spark: SparkSession, url: str, *,
              dbtable: str | None = None, query: str | None = None,
              partition_column: str | None = None,
              lower_bound: Any | None = None, upper_bound: Any | None = None,
              num_partitions: int | None = None,
              options: dict[str, Any] | None = None) -> DataFrame:
    """Parallel partitioned JDBC read — identical option names to the
    reference (``core/sources/jdbc_source.py:6-85``). Each executor reads
    one bound slice, so a large table scan parallelizes instead of
    bottlenecking on one connection."""
    reader = spark.read.format("jdbc").option("url", url)
    if dbtable:
        reader = reader.option("dbtable", dbtable)
    if query:
        reader = reader.option("query", query)
    if partition_column:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound))
                  .option("numPartitions", str(num_partitions or 8)))
    for k, v in (options or {}).items():
        reader = reader.option(k, str(v))
    return reader.load()


#: source name → reader kwargs adapter; extend as connectors are added.
BATCH_SOURCES = ("csv", "parquet", "json", "orc", "text", "delta", "store",
                 "jdbc", "kafka", "odata")
