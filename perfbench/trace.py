"""Span tracing around the engine's public entry points.

Trace mode patches the engine's layer boundaries in memory — nothing on
disk changes — so every call records a span ``(name, start, end, parent,
op)``. Spans stay in memory and are written out as JSON lines when the
run ends. End-to-end metrics never come from a traced run.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable, MutableMapping
from contextlib import contextmanager
from typing import Any


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op_id: int | None = None
        self.overhead_s = 0.0  # time the tracer itself spent
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[Callable[[], None]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {"name": name, "start": 0.0, "end": 0.0,
               "parent": stack[-1] if stack else None, "op": self.op_id}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextmanager
    def overhead(self):
        """Bracket trace-only work (extra counters the untraced run skips)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    # -- patching ------------------------------------------------------------

    def _wrapper(self, fn: Callable, name: str,
                 on_return: Callable | None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            t_out = time.perf_counter()
            if on_return is not None:
                on_return(rec, args, kwargs, out)
            self.overhead_s += (rec["start"] - t_in) + (time.perf_counter() - t_out)
            return out

        return traced

    def wrap(self, owner: Any, attr: str, name: str,
             on_return: Callable | None = None) -> None:
        """Replace ``owner.attr`` (a module function or a class's method)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self._wrapper(orig, name, on_return))
        self._patches.append(lambda: setattr(owner, attr, orig))

    def wrap_item(self, mapping: MutableMapping, key: str, name: str,
                  on_return: Callable | None = None) -> None:
        orig = mapping[key]
        mapping[key] = self._wrapper(orig, name, on_return)
        self._patches.append(lambda: mapping.__setitem__(key, orig))

    def restore(self) -> None:
        while self._patches:
            self._patches.pop()()

    # -- reading spans back ----------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        """Wall time under ``name``, counting nested same-name spans once."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            if p is not None and self.spans[p]["name"] == name:
                continue
            total += s["end"] - s["start"]
        return total

    def self_total(self, name: str) -> float:
        """Duration of ``name`` spans minus the time their children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return sum(s["end"] - s["start"] - child[i]
                   for i, s in enumerate(self.spans) if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def install_engine_spans(tracer: Tracer) -> None:
    """Patch every layer boundary the per-layer metrics read."""
    import projectone_spark.task as task_mod
    from projectone_spark import writers
    from projectone_spark.store import TableStore, skipping
    from projectone_spark.store.state import StateStore

    t = tracer
    t.wrap(task_mod.SparkTask, "execute", "task.execute")

    def count_files(rec, args, kwargs, out):
        t.counters["sources.files_listed"] += len(out.inputFiles())

    t.wrap(task_mod, "read_batch", "sources.read", count_files)
    t.wrap(task_mod, "resolve_cdc", "cdc.resolve")
    _scope_cdc_jobs(t, task_mod)
    t.wrap(StateStore, "set", "task.state_write")
    t.wrap(StateStore, "get_value", "task.state_read")
    for kind in ("scd1", "scd2"):
        t.wrap_item(writers.WRITERS, kind, "writers.merge")
    for meth in ("overwrite", "append", "selective_overwrite"):
        t.wrap(TableStore, meth, "store.write")
    t.wrap(TableStore, "_write_dir", "store.write_job")

    def manifest_bytes(rec, args, kwargs, version):
        store, name = args[0], args[1]
        path = os.path.join(store.root, name, f"_manifest_v{version}.json")
        # the history copy and the current pointer are both written
        t.counters["store.manifest_bytes"] += 2 * os.path.getsize(path)

    t.wrap(TableStore, "_commit", "store.commit", manifest_bytes)
    for meth in ("read", "read_version"):
        t.wrap(TableStore, meth, "store.read")
    t.wrap(skipping, "file_stats", "skipping.stats")


def _scope_cdc_jobs(t: Tracer, task_mod) -> None:
    """Run each CDC bound job under its own job group so the rows it
    scanned can be read back from Spark's stage metrics."""
    traced = task_mod.resolve_cdc

    def resolve(df, *args, **kwargs):
        grp = f"perfbench_cdc_{len(t.durations('cdc.resolve'))}"
        sc = df.sparkSession.sparkContext
        sc.setJobGroup(grp, grp)
        try:
            return traced(df, *args, **kwargs)
        finally:
            sc.setJobGroup("", "")
            with t.overhead():
                t.counters["cdc.rows_scanned"] += group_counters(
                    df.sparkSession, [grp])["input_records"]

    task_mod.resolve_cdc = resolve
    t._patches.append(lambda: setattr(task_mod, "resolve_cdc", traced))


def group_counters(spark, groups: list[str]) -> dict[str, float]:
    """Spark task counters summed over the stages of the given job groups."""
    from projectone_spark.observability import stage_metrics

    jobs: set[int] = set()
    out = defaultdict(float)
    for g in groups:
        for row in stage_metrics(spark, group=g, settle_secs=1.0):
            jobs.add(row["jobId"])
            out["tasks"] += row["numCompleteTasks"]
            out["gc_s"] += row["jvmGcTime"] / 1000.0
            out["cpu_s"] += row["executorCpuTime"] / 1e9
            out["shuffle_mb"] += row["shuffleWriteBytes"] / 2**20
            out["spill_mb"] += (row["memoryBytesSpilled"] + row["diskBytesSpilled"]) / 2**20
            out["input_records"] += row["inputRecords"]
    out["jobs"] = float(len(jobs))
    return out
