"""Delta Lake passthrough backend. An explicitly built :class:`DeltaStore`
binds the engine's write/CDF surface to real Delta tables on clusters that
have delta-spark (the reference is built directly on DeltaTable:
``core/execution/write.py:437``, ``core/sources/delta_source.py:32-45``,
``core/utils/delta.py:84-133``). Nothing switches to it automatically;
``TableStore`` provides the same semantics without the package.

Design: one thin adapter per operation, all calls expressed through
delta-spark's *public* API (``DeltaTable.forPath`` / ``merge`` /
``readChangeFeed``) so behavior matches a vanilla Delta deployment.
``delta_scd1_merge`` restates ``writers.merge.scd1_merge``'s clauses
(update where the data hash differs, insert the rest) as a second SCD1
builder, a Delta MERGE; ``DeltaStore`` writes run the engine's builders.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def delta_available() -> bool:
    """True when the delta-spark package is importable in this runtime."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _delta_table(spark: SparkSession, path: str):
    from delta.tables import DeltaTable

    return DeltaTable.forPath(spark, path)


def delta_exists(spark: SparkSession, path: str) -> bool:
    from delta.tables import DeltaTable

    return DeltaTable.isDeltaTable(spark, path)


def delta_create_if_not_exists(spark: SparkSession, path: str,
                               df: DataFrame, *,
                               partition_by: Sequence[str] | None = None,
                               enable_cdf: bool = True) -> None:
    """Create the table from the frame's schema iff absent — the reference's
    ``createIfNotExists`` idiom (``core/utils/delta.py:84-133``). CDF is
    enabled at creation so change-feed reads work from version 0."""
    if delta_exists(spark, path):
        return
    writer = df.limit(0).write.format("delta")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if enable_cdf:
        writer = writer.option("delta.enableChangeDataFeed", "true")
    writer.save(path)


def delta_append(spark: SparkSession, path: str, df: DataFrame, *,
                 partition_by: Sequence[str] | None = None) -> None:
    writer = df.write.format("delta").mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def delta_overwrite(spark: SparkSession, path: str, df: DataFrame, *,
                    partition_by: Sequence[str] | None = None,
                    replace_where: str | None = None) -> None:
    writer = df.write.format("delta").mode("overwrite")
    if replace_where:
        writer = writer.option("replaceWhere", replace_where)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def _merge_condition(key_cols: Sequence[str]) -> str:
    from projectone_spark.writers.hashing import sql_ident

    return " AND ".join(f"t.{sql_ident(k)} <=> s.{sql_ident(k)}" for k in key_cols)


def delta_scd1_merge(spark: SparkSession, path: str, source: DataFrame, *,
                     key_cols: Sequence[str],
                     data_cols: Sequence[str] | None = None,
                     dedup_on_keys: bool = False,
                     partition_by: Sequence[str] | None = None) -> None:
    """SCD1 upsert through a real ``DeltaTable.merge`` — the reference's
    write path verbatim in shape (``write.py:437-520``): update matched rows
    whose data hash changed, insert unmatched. One shuffle on the merge
    keys; Delta prunes target files by key min/max before the join."""
    from projectone_spark.writers.hashing import with_key_data_hashes

    if dedup_on_keys:
        source = source.dropDuplicates(list(key_cols))
    hashed = with_key_data_hashes(source, key_cols, data_cols)
    delta_create_if_not_exists(spark, path, hashed, partition_by=partition_by)
    from projectone_spark.writers.hashing import DATA_HASH, sql_ident

    dh = sql_ident(DATA_HASH)
    (_delta_table(spark, path).alias("t")
     .merge(hashed.alias("s"), _merge_condition(key_cols))
     .whenMatchedUpdateAll(condition=f"t.{dh} <> s.{dh}")
     .whenNotMatchedInsertAll()
     .execute())


def delta_read_cdf(spark: SparkSession, path: str, *,
                   starting_version: int = 0,
                   ending_version: int | None = None) -> DataFrame:
    """Change Data Feed between versions — same option surface as the
    reference's delta_cdc_feed (``delta_source.py:32-45``). Output carries
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``."""
    reader = (spark.read.format("delta")
              .option("readChangeFeed", "true")
              .option("startingVersion", str(starting_version)))
    if ending_version is not None:
        reader = reader.option("endingVersion", str(ending_version))
    return reader.load(path)


def delta_version(spark: SparkSession, path: str) -> int:
    hist = _delta_table(spark, path).history(1).select("version").first()
    return int(hist[0]) if hist else -1


class DeltaStore:
    """TableStore-shaped adapter over real Delta tables: the subset of the
    store surface the writers consume (``exists`` / ``read`` / ``manifest``
    / ``append`` / ``overwrite`` / ``selective_overwrite`` /
    ``_rewrite``), so ``write_scd1/2/3``, the streaming
    ``foreach_batch_writer``, and CDC route through DeltaTable commits
    unchanged when a caller passes a ``DeltaStore`` instead of a
    ``TableStore``. Construct only after checking :func:`delta_available`.
    """

    def __init__(self, root: str):
        if not delta_available():
            raise ImportError(
                "DeltaStore needs the delta-spark package; use TableStore "
                "(same semantics, no dependency) where it is absent")
        self.root = root

    def _path(self, name: str) -> str:
        import os

        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return delta_exists(SparkSession.getActiveSession(), self._path(name))

    def read(self, spark: SparkSession, name: str,
             snapshot: dict | None = None) -> DataFrame:
        reader = spark.read.format("delta")
        if snapshot is not None:
            reader = reader.option("versionAsOf", snapshot["version"])
        return reader.load(self._path(name))

    def version(self, name: str) -> int:
        spark = SparkSession.getActiveSession()
        return delta_version(spark, self._path(name))

    def manifest(self, name: str) -> dict | None:
        """Delta's table detail re-shaped to the TableStore manifest keys
        the writers read (``partition_by``, ``version``)."""
        spark = SparkSession.getActiveSession()
        if not self.exists(name):
            return None
        detail = (_delta_table(spark, self._path(name))
                  .detail().select("partitionColumns").first())
        return {"partition_by": list(detail[0]),
                "version": delta_version(spark, self._path(name))}

    def append(self, spark: SparkSession, df: DataFrame, name: str,
               partition_by: Sequence[str] | None = None, **_: Any) -> int:
        p = self._path(name)
        delta_create_if_not_exists(spark, p, df, partition_by=partition_by)
        delta_append(spark, p, df, partition_by=partition_by)
        return delta_version(spark, p)

    def overwrite(self, spark: SparkSession, df: DataFrame, name: str,
                  partition_by: Sequence[str] | None = None, **_: Any) -> int:
        p = self._path(name)
        delta_create_if_not_exists(spark, p, df, partition_by=partition_by)
        delta_overwrite(spark, p, df, partition_by=partition_by)
        return delta_version(spark, p)

    def selective_overwrite(self, spark: SparkSession, df: DataFrame,
                            name: str, replace_where: str | None = None,
                            partition_values: dict[str, list] | None = None,
                            partition_by: Sequence[str] | None = None) -> int:
        from projectone_spark.store.skipping import predicates_to_sql

        p = self._path(name)
        if replace_where is None and partition_values:
            replace_where = predicates_to_sql(
                [(c, "in", vals) for c, vals in partition_values.items()])
        if replace_where is None:
            raise ValueError(
                "selective_overwrite needs replace_where or partition_values")
        delta_create_if_not_exists(spark, p, df, partition_by=partition_by)
        delta_overwrite(spark, p, df, partition_by=partition_by,
                        replace_where=replace_where)
        return delta_version(spark, p)

    def _rewrite(self, spark: SparkSession, name: str, snapshot: dict,
                 predicates: Sequence[tuple[str, str, object]], transform,
                 operation: str, **_: Any) -> int:
        """``TableStore._rewrite``'s contract for the SCD key merges: the
        rows of ``snapshot`` inside the predicates' range are transformed
        and written back with ``replaceWhere`` (Delta prunes the files and
        checks for conflicting commits itself). With no predicate the
        whole snapshot is transformed and replaces the table."""
        from projectone_spark.store.skipping import predicates_to_sql

        cond = predicates_to_sql(predicates)
        cand = self.read(spark, name, snapshot=snapshot)
        if cond:
            cand = cand.filter(cond)
        p = self._path(name)
        delta_overwrite(spark, p, transform(cand), replace_where=cond or None)
        return delta_version(spark, p)

