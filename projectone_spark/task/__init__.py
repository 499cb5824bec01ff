"""SparkTask: the input → execution → output pipeline unit.

Re-expresses the reference's task lifecycle (``core/task/spark/task.py``,
SURVEY §3.1) over this engine's components: sources registry for reads,
feature pipeline for pre/post steps, CDC state machine for incremental
predicates, writer registry + TableStore for outputs, StateStore for task
state, Result envelopes per step (``core/schemas/result.py:5-69``).

Batch lifecycle: validate → resolve CDC per input → lazy reads + features →
bind and call the execution function → constraint checks → writers →
persist CDC + load-timestamp state. Streaming reuses the same writers per
micro-batch via foreachBatch (see :mod:`projectone_spark.streaming`).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import traceback
import urllib.parse
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from projectone_spark.cdc import (CdcState, load_cdc_state, new_file_bounds,
                                  resolve_cdc, save_cdc_state)
from projectone_spark.config import SparkInput, SparkOutput, TaskConfig
from projectone_spark.features import (
    DictSecretManager,
    apply_input_features,
    interpolate,
)
from projectone_spark.sources import read_batch
from projectone_spark.store import TableStore
from projectone_spark.store.state import StateStore
from projectone_spark.task.execution_fn import (
    bind_arguments,
    load_function,
    validate_outputs,
)
from projectone_spark.writers import WRITERS, check_table_constraints


@dataclass
class Result:
    """Step result envelope (reference ``core/schemas/result.py:5-69``)."""

    name: str
    status: str = "success"  # success | failed
    exception: str | None = None
    start_time: float = 0.0
    end_time: float = 0.0
    batch_id: str | None = None
    detail: dict[str, Any] = field(default_factory=dict)


def _step(results: list[Result], name: str, batch_id: str,
          fn: Callable[[], Any]) -> Any:
    """Run one step producing a Result envelope (reference ``execute_step``
    decorator, ``operator/__init__.py:15-63``)."""
    r = Result(name=name, batch_id=batch_id, start_time=time.time())
    try:
        out = fn()
        r.end_time = time.time()
        results.append(r)
        return out
    except Exception as e:
        r.status = "failed"
        r.exception = f"{type(e).__name__}: {e}\n{traceback.format_exc(limit=5)}"
        r.end_time = time.time()
        results.append(r)
        raise


class _BuilderFactory:
    """Makes ``SparkTask.builder`` (class attribute access) yield a fresh
    Builder, matching the reference's ``SparkTask.builder.setInput(...)``
    call shape."""

    def __get__(self, obj: object, owner: type) -> "SparkTask.Builder":
        return SparkTask.Builder()


class SparkTask:
    """Builder-constructed task (reference ``SparkTask.builder`` API)."""

    def __init__(self, config: TaskConfig, spark: SparkSession | None = None):
        self.config = config
        self._spark = spark
        self.results: list[Result] = []
        self.batch_id = str(uuid.uuid1())  # reference uses uuid1 (context.py:18-88)

    # -- builder -----------------------------------------------------------

    class Builder:
        def __init__(self) -> None:
            self._kw: dict[str, Any] = {"inputs": [], "outputs": []}
            self._spark: SparkSession | None = None

        def setName(self, name: str) -> "SparkTask.Builder":
            self._kw["name"] = name
            return self

        def setInput(self, **kw: Any) -> "SparkTask.Builder":
            self._kw["inputs"].append(kw)
            return self

        def setExecution(self, **kw: Any) -> "SparkTask.Builder":
            self._kw["execution"] = kw
            return self

        def setOutput(self, **kw: Any) -> "SparkTask.Builder":
            self._kw["outputs"].append(kw)
            return self

        def setRefreshPolicy(self, **kw: Any) -> "SparkTask.Builder":
            self._kw["refresh_policy"] = kw
            return self

        def setSparkConfig(self, conf: dict[str, str]) -> "SparkTask.Builder":
            self._kw["spark_config"] = conf
            return self

        def setStateLocation(self, path: str) -> "SparkTask.Builder":
            self._kw["state_location"] = path
            return self

        def setStoreLocation(self, path: str) -> "SparkTask.Builder":
            self._kw["store_location"] = path
            return self

        def setSecrets(self, secrets: dict[str, dict[str, str]]) -> "SparkTask.Builder":
            self._kw["secrets"] = secrets
            return self

        def setObserveStages(self, on: bool = True) -> "SparkTask.Builder":
            self._kw["observe_stages"] = on
            return self

        def setSession(self, spark: SparkSession) -> "SparkTask.Builder":
            self._spark = spark
            return self

        def create(self) -> "SparkTask":
            return SparkTask(TaskConfig(**self._kw), self._spark)

    builder = _BuilderFactory()

    # -- lifecycle ---------------------------------------------------------

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from projectone_spark.session import get_spark

            self._spark = get_spark(self.config.name,
                                    extra_conf=self.config.spark_config or None)
        return self._spark

    @property
    def state(self) -> StateStore:
        loc = self.config.state_location or f"/tmp/projectone_state/{self.config.name}"
        return StateStore(loc)

    @property
    def store(self) -> TableStore:
        loc = self.config.store_location or f"/tmp/projectone_store/{self.config.name}"
        return TableStore(loc)

    def _variables(self) -> dict[str, Any]:
        rp = self.config.refresh_policy
        return {"RangeStart": rp.range_start, "RangeEnd": rp.range_end,
                "BatchId": self.batch_id}

    def _read_input(self, inp: SparkInput) -> DataFrame:
        secrets = DictSecretManager(self.config.secrets)
        opts = interpolate(dict(inp.read_options.options), self._variables(), secrets)
        path = interpolate(inp.path, self._variables(), secrets) if inp.path else None
        row_filter = (interpolate(inp.read_options.filter, self._variables(), secrets)
                      if inp.read_options.filter else None)
        if inp.cdc is None:
            df = read_batch(self.spark, inp.source, path=path, table=inp.table,
                            schema=inp.read_options.source_schema, options=opts)
        else:
            df = self._read_cdc(inp, path, opts)
        if row_filter:
            df = df.filter(row_filter)
        # post-steps: configured features in order (input.py:164-287);
        # post_task_execution features don't transform the frame — they
        # schedule source-file ops for after a successful run (reference
        # features.py:169-193 + Runtime.atexit)
        feats = []
        for f in inp.features:
            d = f.model_dump()
            if d["name"] == "post_task_execution":
                self._cleanup_ops = getattr(self, "_cleanup_ops", [])
                self._cleanup_ops.append({**d, "source_path": path})
            else:
                feats.append(d)
        return apply_input_features(df, feats)

    def _read_cdc(self, inp: SparkInput, path: str | None,
                  opts: dict[str, Any]) -> DataFrame:
        """The CDC pre-step (reference input.py:92-162): the input read
        through its incremental predicate. The state to save once the run
        succeeds goes to ``_pending_cdc``.

        A local directory of parquet files, read with no options, is
        planned by ``_plan_from_footers`` with no Spark job and no JVM
        listing. Any other input is read as given, and a local parquet
        directory then takes its footer bounds from the files Spark
        listed. With bounds, the one frame handed to ``resolve_cdc`` reads
        only the files that can hold new rows (landed files never
        change)."""
        rp = self.config.refresh_policy
        backfill = None
        if rp.type == "backfill":
            backfill = (inp.cdc.backfill_start or rp.range_start,
                        inp.cdc.backfill_end or rp.range_end)
        attr = inp.cdc.attribute
        prev = load_cdc_state(self.state, inp.name)
        incremental = backfill is None and not inp.read_options.source_schema
        plan = None
        if incremental and inp.source == "parquet" and not opts:
            plan = _plan_from_footers(self.spark, self.state, inp.name, path,
                                      attr)
        if plan is None:
            df = read_batch(self.spark, inp.source, path=path, table=inp.table,
                            schema=inp.read_options.source_schema, options=opts)
            schema = None
            bounds = (_footer_file_bounds(df, inp.source, path, opts, attr)
                      if incremental else None)
        else:
            df = None
            schema, bounds = plan
        if bounds and not _fits_watermark(prev, bounds[0][2]):
            bounds = None
        new = None if bounds is None else new_file_bounds(bounds, prev)
        if new and len(new) < len(bounds):
            df = read_batch(self.spark, inp.source, path=[b[0] for b in new],
                            schema=schema or df.schema, options=opts)
        elif df is None:
            df = read_batch(self.spark, inp.source, path=path, schema=schema)
        pred, new_state = resolve_cdc(df, attr, prev, backfill, self.batch_id,
                                      file_bounds=bounds)
        self._pending_cdc = getattr(self, "_pending_cdc", {})
        self._pending_cdc[inp.name] = new_state
        return df.filter(pred)

    def _run_cleanup(self) -> None:
        """Post-success source-file ops (reference ``file_source.py:622-672``:
        operation 'delete' removes consumed source files)."""
        from projectone_spark.sources.file_clients import LocalFileClient

        client = LocalFileClient()
        for op in getattr(self, "_cleanup_ops", []):
            if op.get("operation") == "delete":
                pattern = op.get("path") or op["source_path"]
                for info in client.list(pattern):
                    client.delete(info.path)

    def _read_stream_input(self, inp: SparkInput) -> DataFrame:
        """Streaming read path (reference stream read + post-steps); CDC is
        the checkpoint's job for streams, so only filter/features apply."""
        from projectone_spark.sources import read_stream

        secrets = DictSecretManager(self.config.secrets)
        opts = interpolate(dict(inp.read_options.options), self._variables(), secrets)
        path = interpolate(inp.path, self._variables(), secrets) if inp.path else None
        df = read_stream(self.spark, inp.source, path=path, table=inp.table,
                         schema=inp.read_options.source_schema, options=opts)
        if inp.read_options.filter:
            df = df.filter(interpolate(inp.read_options.filter,
                                       self._variables(), secrets))
        return apply_input_features(df, [f.model_dump() for f in inp.features])

    def _writer_kwargs(self, out: SparkOutput) -> dict[str, Any]:
        wo = out.write_options
        kwargs: dict[str, Any] = {"partition_by": wo.split("partition_by")}
        if out.write_type in ("scd1", "scd2", "scd3"):
            kwargs["key_cols"] = wo.split("key_attributes") or []
            kwargs["data_cols"] = wo.split("data_attributes")
            kwargs["dedup_on_keys"] = wo.deduplicate_onkeys
            kwargs["rename"] = wo.rename_metadata_columns
        if out.write_type == "scd1" and wo.use_paritition_column_in_merge:
            # the reference adds partition-column conjuncts to the MERGE so
            # Delta skips files; this engine's analogue is the
            # partition-pruned merge (selective rewrite of touched partitions)
            kwargs["partition_prune"] = True
        if out.write_type == "scd2":
            kwargs["valid_from"] = wo.history_tracking_col
            kwargs["fix_duplicates_by_key"] = wo.fix_duplicates_by_key
            kwargs["active_mapping"] = wo.active_record_value_mapping
            if wo.history_start_tracking_value is not None:
                import pyspark.sql.functions as F

                hs = F.lit(wo.history_start_tracking_value)
                kwargs["history_start"] = hs.cast(
                    wo.history_start_tracking_value_type or "timestamp")
        if out.write_type == "scd3":
            kwargs["tracked_cols"] = wo.split("column_attributes") or []
        if out.write_type in ("append", "overwrite"):
            kwargs["upsert_ts"] = wo.generate_record_upsert_columns
            kwargs["rename"] = wo.rename_metadata_columns
        if out.write_type == "selective_overwrite":
            kwargs["replace_where"] = wo.replace_where
            kwargs["partition_values"] = wo.partition_values
            kwargs["rename"] = wo.rename_metadata_columns
        return kwargs

    def _write_output(self, out: SparkOutput, df: DataFrame) -> None:
        wo = out.write_options
        if wo.persist_dataset:
            # reference write.py:81-83: disk-persist so a multi-action
            # write (SCD read-modify-write) scans the source once
            from pyspark import StorageLevel

            df = df.persist(StorageLevel.DISK_ONLY)
        if wo.stage_results:
            # reference write.py:84-86: cut the lineage before the write
            df = df.localCheckpoint()
        if wo.exclude_data_columns:
            excluded = {c.strip() for c in wo.exclude_data_columns.split(",")}
            keys = set(wo.split("key_attributes") or [])
            if out.write_type in ("scd1", "scd2", "scd3") \
                    and not wo.data_attributes:
                # data cols = every payload column except the excluded set
                # (reference write.py:596-633)
                wo.data_attributes = ",".join(
                    c for c in df.columns
                    if c not in excluded and c not in keys
                    and not c.startswith("__metadata_"))
        if out.create_table is not None:
            # create-object-if-missing pre-step + declared column features
            from projectone_spark.store import create_if_not_exists
            from projectone_spark.writers.columns import apply_table_features

            create_if_not_exists(self.store, self.spark, out.create_table)
            df = apply_table_features(df, out.create_table)
        if out.constraints:
            check_table_constraints(self.spark, self.store, df,
                                    [(t, cols) for t, cols in out.constraints])
        writer = WRITERS[out.write_type]
        from projectone_spark.observability import job_group, log_stage_metrics

        # reference output.py:186-192: every output's jobs run under an
        # ``output_{name}`` job group so the UI/history server (and the
        # stage-metrics snapshot below) attribute stages to outputs; the
        # batch id scopes the tag to THIS run — the AppStatusStore
        # accumulates all session jobs, so an unscoped tag would fold a
        # re-run's stages into the snapshot
        grp = f"output_{out.name}_{self.batch_id}"
        with job_group(self.spark, grp):
            version = writer(self.spark, self.store, df, out.target,
                             **self._writer_kwargs(out))
        self.state.set(f"{out.name}_write", {
            "version": version, "write_type": out.write_type,
            "batch_id": self.batch_id}, folder="sink")
        if self.config.observe_stages:
            # per-stage run/CPU/GC/shuffle/spill metrics for this output's
            # jobs (reference spark_listener.py:99-180) into state logs
            log_stage_metrics(self.state, out.name, self.spark, group=grp)

    def _bind_and_run_execution(self, inputs: dict[str, DataFrame],
                                output_names: list[str]) -> dict[str, DataFrame]:
        cfg = self.config
        if cfg.execution is not None:
            ex = cfg.execution
            fn = load_function(ex.name, module=ex.module, body=ex.body, file=ex.file)
            args = bind_arguments(fn, inputs, ex.extra_arguments)
            raw = _step(self.results, f"execution_{ex.name}", self.batch_id,
                        lambda: fn(**args))
            return validate_outputs(raw, output_names)
        if len(inputs) != 1 or len(output_names) != 1:
            raise ValueError("identity passthrough needs exactly 1 input and output")
        return {output_names[0]: next(iter(inputs.values()))}

    def execute(self) -> list[Result]:
        """Dispatch batch/stream (reference ``execute``, task.py:578-583)."""
        if (self.config.refresh_policy.type == "stream"
                or any(i.source_extract_type == "stream"
                       for i in self.config.inputs)):
            return self.stream_process()
        return self.batch_process()

    def _resolve_refresh_range(self) -> None:
        """Roll the refresh window forward at run start (reference
        ``context.get_range_values``): non-backfill runs start where the
        previous run's persisted window ended. Only engages when the
        policy actually declares a window (start/end values or a prior
        run's state) so plain full refreshes keep null range variables."""
        rp = self.config.refresh_policy
        prev = self.state.get_value("pipeline_load_timestamp")
        prev_end = (prev or {}).get("end_date") if isinstance(prev, dict) else None
        if rp.type == "backfill" or rp.start_value or prev_end:
            rp.resolve_range(previous_end=prev_end)

    def batch_process(self) -> list[Result]:
        """Batch execution (reference ``task_process``, task.py:386-497)."""
        cfg = self.config
        self._resolve_refresh_range()
        inputs: dict[str, DataFrame] = {}
        for inp in cfg.inputs:
            inputs[inp.name] = _step(self.results, f"input_{inp.name}",
                                     self.batch_id, lambda i=inp: self._read_input(i))

        output_names = [o.name for o in cfg.outputs]
        outputs = self._bind_and_run_execution(inputs, output_names)

        for out in cfg.outputs:
            _step(self.results, f"output_{out.name}", self.batch_id,
                  lambda o=out: self._write_output(o, outputs[o.name]))

        # success: persist per-input CDC state + load timestamp
        # (reference task.py:519-544, :584-648)
        for name, st in getattr(self, "_pending_cdc", {}).items():
            save_cdc_state(self.state, name, st)
        self.state.set(f"pipeline_{cfg.refresh_policy.type}_load_timestamp",
                       time.time())
        if cfg.refresh_policy.range_end is not None:
            # the next run's rolling-window start (context.py:64-72)
            self.state.set("pipeline_load_timestamp",
                           {"start_date": cfg.refresh_policy.range_start,
                            "end_date": cfg.refresh_policy.range_end})
        self._run_cleanup()
        return self.results

    def stream_process(self, *, timeout_seconds: float | None = None) -> list[Result]:
        """Streaming execution (reference ``stream_process`` +
        ``stream_wait_close``, task.py:547-556): every output starts a
        writeStream whose foreachBatch reuses the batch writer; checkpoints
        default to ``{state_location}/checkpoints/{output}``."""
        from projectone_spark.streaming import (
            StreamTrigger,
            checkpoint_location,
            foreach_batch_writer,
            stream_wait_close,
            write_stream,
        )

        cfg = self.config
        inputs: dict[str, DataFrame] = {}
        for inp in cfg.inputs:
            inputs[inp.name] = _step(
                self.results, f"input_{inp.name}", self.batch_id,
                lambda i=inp: self._read_stream_input(i)
                if i.source_extract_type == "stream" else self._read_input(i))

        output_names = [o.name for o in cfg.outputs]
        outputs = self._bind_and_run_execution(inputs, output_names)

        queries = []
        state_loc = cfg.state_location or f"/tmp/projectone_state/{cfg.name}"
        for out in cfg.outputs:
            trig = out.trigger
            q = _step(
                self.results, f"output_{out.name}", self.batch_id,
                lambda o=out: write_stream(
                    outputs[o.name],
                    query_name=f"{cfg.name}_{o.name}",
                    checkpoint=o.checkpoint_location
                    or checkpoint_location(state_loc, o.name),
                    trigger=StreamTrigger(
                        once=bool(trig.once),
                        available_now=trig.available_now is not False,
                        processing_time=trig.processing_time),
                    foreach_batch=foreach_batch_writer(
                        self.spark, self.store, o.target, o.write_type,
                        **self._writer_kwargs(o))))
            queries.append(q)
        stream_wait_close(queries, timeout_seconds=timeout_seconds)
        self.state.set("pipeline_stream_load_timestamp", time.time())
        return self.results


def _local_path(uri: str) -> str | None:
    """Absolute local path of a plain or ``file:`` path; None for any
    other scheme."""
    parsed = urllib.parse.urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    return os.path.normpath(os.path.abspath(urllib.parse.unquote(parsed.path)
                                            if parsed.scheme else uri))


def _on_local_fs(spark: SparkSession, path: str | None) -> bool:
    """Whether Spark reads ``path`` from the local file system: a
    ``file:`` path, or one with no scheme while the default file system
    (``fs.defaultFS``, set on the session or in the Hadoop conf) is
    local."""
    if path is None:
        return False
    scheme = urllib.parse.urlparse(path).scheme
    if scheme:
        return scheme == "file"
    default = (spark.conf.get("fs.defaultFS", None)
               or spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS"))
    return default is None or default.startswith("file:")


def _hidden(name: str) -> bool:
    """Spark's rule for a file or directory name it reads no data from:
    one that starts with ``.``, or with ``_`` and holds no ``=``, or ends
    in ``._COPYING_``."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _listed_files(path: str | None) -> list[str] | None:
    """The data files Spark lists in a local directory, listed in Python
    with Spark's ``_hidden`` rule. None, so that Spark lists, for a
    non-local path, a path that is not a directory, a subdirectory, a
    parquet summary file (``_metadata``, ``_common_metadata``), whose
    footer Spark would infer the schema from, or a streaming file sink's
    ``_spark_metadata`` log, which names the only files Spark reads."""
    root = _local_path(path) if path else None
    if root is None or not os.path.isdir(root):
        return None
    files = []
    with os.scandir(root) as entries:
        for e in entries:
            name = e.name
            if name.startswith(("_metadata", "_common_metadata",
                                "_spark_metadata")):
                return None
            if _hidden(name):
                continue
            if e.is_dir():
                return None
            files.append(e.path)
    return sorted(files)


#: Session confs under which Spark turns a parquet footer into a schema.
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)

_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _recorded_schema(spark: SparkSession, state: StateStore, name: str,
                     path: str, footers: list) -> StructType:
    """What ``spark.read.parquet(path).schema`` returns for files with
    these footers. Spark infers it from a footer's parquet schema, or from
    the Spark schema a Spark writer embeds in it, read under the session's
    parquet confs by this Spark version. Those make the key of the input's
    record in ``state`` (``{name}_parquet_schema``). A record of another
    key, or none, is a miss: Spark infers the schema once (one job), and
    the record is rewritten."""
    keys = sorted({str(md.schema).split("\n", 1)[1]
                   + (md.metadata or {}).get(_ROW_METADATA, b"").decode()
                   for md in footers})
    confs = [spark.conf.get(c, None) for c in _INFERENCE_CONFS]
    key = hashlib.sha256(
        json.dumps([keys, spark.version, confs]).encode()).hexdigest()
    record = state.get_value(f"{name}_parquet_schema", folder="sources")
    if record is not None and record["key"] == key:
        return StructType.fromJson(record["schema"])
    schema = read_batch(spark, "parquet", path=path).schema
    state.set(f"{name}_parquet_schema",
              {"key": key, "schema": schema.jsonValue()}, folder="sources")
    return schema


def _plan_from_footers(spark: SparkSession, state: StateStore, name: str,
                       path: str | None, attribute: str):
    """``(schema, bounds)`` of a local directory of parquet files, planned
    without Spark: the files are listed in Python, one footer read per
    file gives its ``(path, min, max)`` of ``attribute`` and its schema
    key, and the schema is the recorded one. ``bounds`` is None when a
    file has no exact bounds. None, so that Spark lists and infers, when
    ``_listed_files`` declines or a footer does not read."""
    import pyarrow.parquet as pq

    from projectone_spark.store.skipping import footer_bounds

    files = _listed_files(path) if _on_local_fs(spark, path) else None
    if not files:
        return None
    try:
        footers = [pq.read_metadata(f) for f in files]
    except (OSError, ValueError):
        return None
    schema = _recorded_schema(spark, state, name, path, footers)
    if attribute not in schema.names:
        return schema, None
    # ``file:`` URIs, so that Spark reads the listed files whatever its
    # default file system
    return schema, footer_bounds(["file:" + f for f in files], attribute,
                                 schema[attribute].dataType, footers)


def _footer_file_bounds(df: DataFrame, source: str, path: str | None,
                        options: dict[str, Any], attribute: str):
    """Per-file ``(path, min, max)`` of ``attribute`` from the parquet
    footers of the files Spark listed for ``df``, keyed by ``file:`` paths
    as ``_plan_from_footers`` keys them: ``inputFiles()`` gives %-escaped
    URIs, which Spark would read back as unescaped paths. None, so that
    CDC falls back to its Spark aggregate, unless the input is a local
    directory of parquet files with no partition subdirectories and every
    file has exact footer bounds."""
    from projectone_spark.store.skipping import footer_bounds

    if source != "parquet" or path is None or attribute not in df.schema.names:
        return None
    if any(k.lower() == "basepath" for k in options):
        return None
    root = _local_path(path)
    if root is None or not os.path.isdir(root):
        return None
    # inputFiles() also names the summary files Spark reads no rows from
    files = [f for f in df.inputFiles() if not _hidden(f.rsplit("/", 1)[-1])]
    local = [_local_path(f) for f in files]
    if any(p is None or os.path.dirname(p) != root for p in local):
        return None
    try:
        bounds = footer_bounds(local, attribute, df.schema[attribute].dataType)
    except (OSError, ValueError):
        # an unreadable or vanished file: the aggregate path fails or
        # skips it exactly as Spark's options say (ignoreCorruptFiles)
        return None
    return None if bounds is None else [("file:" + p, lo, hi)
                                         for p, lo, hi in bounds]


def _fits_watermark(prev: CdcState | None, bound: Any) -> bool:
    """Whether footer bounds, of which ``bound`` is one, compare with the
    saved watermark in Python exactly as Spark compares the column with
    it. A backfill saves its range end as given (often a string), and a
    caller may give a tz-aware datetime; only Spark's cast handles those,
    so the aggregate resolves that run and saves a watermark of the
    column's own type."""
    if prev is None or prev.next_value is None:
        return True
    value = prev.next_value
    return type(value) is type(bound) and getattr(value, "tzinfo", None) is None


def task_builder() -> SparkTask.Builder:
    return SparkTask.Builder()
