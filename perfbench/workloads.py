"""The three workloads. Each drives the engine only through its public entry
points and exposes the same four steps to the runner:

``setup(sub)``   lands the workload's inputs under the directory ``sub``;
``warm()``       runs a few untimed operations so the timed phase starts warm;
``timed(deadline)`` runs operations until ``deadline`` (``time.perf_counter``)
                 and records one :class:`Op` per operation;
``check()``      counts output rows that differ from the DuckDB oracle;
``layers()``     per-layer numbers only a traced run can supply.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, oracle
from perfbench.harness import median, reference_job
from perfbench.trace import Tracer, group_counters


@dataclass
class Op:
    latency_s: float
    items: int  # input rows the operation processed


@dataclass
class Workload:
    spark: object
    seed: int
    tracer: Tracer | None = None
    ops: list[Op] = field(default_factory=list)
    failed: int = 0
    landed_bytes: int = 0  # input bytes landed during the timed phase
    root: str = ""  # directory of the set-up the timed phase uses
    refs: list[float] = field(default_factory=list)  # reference-job latencies

    def reference(self, repeats: int = 2) -> None:
        """Time the reference job next to the operations, so it sees the
        host as they do (``op_p50_rel`` divides by its median)."""
        self.refs += reference_job(self.spark, repeats)

    def throughput(self, wall: float) -> float:
        """Input rows per second of operation time, so the
        operation cut off by the end of the window does not skew it."""
        busy = sum(op.latency_s for op in self.ops)
        return sum(op.items for op in self.ops) / busy if busy else 0.0

    def close(self) -> None:
        """Release what the set-up started (nothing, unless overridden)."""

    def _trace_groups(self, groups: list[str]) -> dict[str, float]:
        with self.tracer.overhead():
            return group_counters(self.spark, groups)


# -- scd_incremental ---------------------------------------------------------

class ScdIncremental(Workload):
    """Closed loop: one SparkTask run (CDC parquet input -> SCD2 store
    output) per landed increment."""

    N_ORDERS = 5_000
    UPDATE_FRAC = 0.02
    INSERT_FRAC = 0.005
    WARM_OPS = 4  # increments run before timing, so the JIT has settled

    def _task(self):
        from projectone_spark.task import SparkTask

        return (SparkTask.builder.setName("scd_incremental")
                .setInput(name="lineitem", source="parquet", path=self.src_dir,
                          cdc={"attribute": "ingest_ts"})
                .setOutput(name="history", table="lineitem_history", write_type="scd2",
                           write_options={"key_attributes": "l_orderkey,l_linenumber",
                                          "history_tracking_col": "ingest_ts"})
                .setRefreshPolicy(type="incremental")
                .setStateLocation(os.path.join(self.root, "state"))
                .setStoreLocation(self.store_root)
                .setSession(self.spark)
                .create())

    def setup(self, sub: str) -> None:
        self.root = sub
        self.src_dir = self.input_dir = os.path.join(sub, "src")
        self.store_root = os.path.join(sub, "store")
        os.makedirs(self.src_dir)
        self.source = gen.LineitemSource(gen.rng_for(self.seed, 1), self.N_ORDERS)
        self.rng = gen.rng_for(self.seed, 2)
        gen.write(self.source.snapshot(), os.path.join(self.src_dir, "part-00000.parquet"))
        self.increments = 0
        self.updated_keys = 0
        self._task().execute()  # initial load: every key opens its history

    def warm(self) -> None:
        for _ in range(self.WARM_OPS):
            self._land()
            self._task().execute()

    def _land(self) -> int:
        self.increments += 1
        rows, n_upd = self.source.increment(self.rng, self.increments,
                                            self.UPDATE_FRAC, self.INSERT_FRAC)
        self.updated_keys += n_upd
        self.landed_bytes += gen.write(
            rows, os.path.join(self.src_dir, f"part-{self.increments:05d}.parquet"))
        return rows.num_rows

    def timed(self, deadline: float) -> None:
        self.landed_bytes = 0
        self.layer_rows = []
        while time.perf_counter() < deadline:
            self.reference()
            n = self._land()
            task = self._task()
            if self.tracer is not None:
                self.tracer.op_id = len(self.ops)
            t0 = time.perf_counter()
            try:
                task.execute()
            except Exception as e:  # a failed run is counted, the loop goes on
                self.failed += 1
                print(f"# scd_incremental: increment failed: {e!r}", flush=True)
                continue
            self.ops.append(Op(time.perf_counter() - t0, n))
            if self.tracer is not None:
                self.layer_rows.append(self._trace_op(task, n))

    def _trace_op(self, task, changed: int) -> dict[str, float]:
        c = self._trace_groups([f"output_history_{task.batch_id}"])
        with self.tracer.overhead():
            m = json.load(open(os.path.join(self.store_root, "lineitem_history",
                                            "_manifest.json")))
        return {"rewritten": sum(f["rows"] for f in m["files"]), "changed": changed,
                "shuffle_mb": c["shuffle_mb"], "cpu_s": c["cpu_s"],
                "jobs": c["jobs"], "tasks": c["tasks"], "gc_s": c["gc_s"]}

    def check(self) -> int:
        return oracle.scd2_mismatches(
            oracle.store_files(self.store_root, "lineitem_history"),
            sorted(glob.glob(os.path.join(self.src_dir, "*.parquet"))),
            self.updated_keys)

    def layers(self) -> dict[str, float]:
        rows = self.layer_rows
        rewritten = sum(r["rewritten"] for r in rows)
        changed = sum(r["changed"] for r in rows)
        return {
            "writers.rows_rewritten": rewritten / max(1, len(rows)),
            "writers.rows_changed": changed / max(1, len(rows)),
            "writers.useful_ratio": changed / rewritten if rewritten else 0.0,
            "writers.shuffle_mb": sum(r["shuffle_mb"] for r in rows) / max(1, len(rows)),
            "writers.cpu_s": sum(r["cpu_s"] for r in rows) / max(1, len(rows)),
            "spark.jobs_per_op": sum(r["jobs"] for r in rows) / max(1, len(rows)),
            "spark.tasks_per_op": sum(r["tasks"] for r in rows) / max(1, len(rows)),
            "spark.gc_s": sum(r["gc_s"] for r in rows),
        }


# -- stream_upsert -----------------------------------------------------------

class StreamUpsert(Workload):
    """Open loop: a generator lands one events file every 1/RATE seconds; a
    file-source stream SCD1-upserts each micro-batch into a store table."""

    RATE = 2 / 3  # files per second: a one-file batch ends before the next is due
    ROWS_PER_FILE = 150
    N_USERS = 8_000
    NEW_FRAC = 0.1
    TRIGGER = "100 milliseconds"
    WARM_BATCHES = 3  # one-file micro-batches run before timing
    REF_ROOM_S = 0.4  # time two reference jobs need between batches

    def setup(self, sub: str) -> None:
        from projectone_spark import streaming
        from projectone_spark.store import TableStore

        self.root = sub
        self.land_dir = self.input_dir = os.path.join(sub, "landing")
        self.staging = os.path.join(sub, "staging")
        os.makedirs(self.land_dir)
        os.makedirs(self.staging)
        self.store_root = os.path.join(sub, "store")
        self.store = TableStore(self.store_root)
        self.rng = gen.rng_for(self.seed, 5)
        self.order = self.rng.permutation(self.N_USERS) + 1
        self.next_new = self.N_USERS + 1
        self.file_seq = 0
        self.due: dict[str, float] = {}
        self.commits: dict[int, float] = {}
        self._land_file(gen.events(self.rng, np.arange(1, self.N_USERS + 1), 0))
        upsert = streaming.foreach_batch_writer(self.spark, self.store, "users", "scd1",
                                                key_cols=["user_id"])

        def committed(batch_df, batch_id: int) -> None:
            upsert(batch_df, batch_id)
            self.commits[batch_id] = time.perf_counter()

        self.query = streaming.write_stream(
            streaming.read_stream_parquet(self.spark, self.land_dir, gen.EVENT_SCHEMA),
            query_name=f"perfbench_upsert_{os.getpid()}_{os.path.basename(sub)}",
            checkpoint=os.path.join(sub, "checkpoint"),
            trigger=streaming.StreamTrigger(available_now=False,
                                            processing_time=self.TRIGGER),
            foreach_batch=committed)
        self.query.processAllAvailable()  # the snapshot is the initial load

    def warm(self) -> None:
        for _ in range(self.WARM_BATCHES):
            self._land_next()
            self.query.processAllAvailable()
        # catch-up rate: how fast the stream absorbs files landed back to back
        t0 = time.perf_counter()
        for _ in range(4):
            self._land_next()
        self.query.processAllAvailable()
        self.catchup_rate = 4 / (time.perf_counter() - t0)

    def _land_file(self, table) -> int:
        name = f"events-{self.file_seq:05d}.parquet"
        tmp = os.path.join(self.staging, name)
        size = gen.write(table, tmp)
        os.replace(tmp, os.path.join(self.land_dir, name))  # atomic to the stream
        return size

    def _land_next(self) -> int:
        self.file_seq += 1
        ids, self.next_new = gen.event_users(self.order, self.file_seq, self.ROWS_PER_FILE,
                                             self.NEW_FRAC, self.next_new)
        return self._land_file(gen.events(self.rng, ids, self.file_seq))

    def timed(self, deadline: float) -> None:
        self.landed_bytes = 0
        self.late_ms: list[float] = []
        n_files = round((deadline - time.perf_counter()) * self.RATE)
        if self.tracer is not None:  # the query's Spark counters so far
            self.counters_before = self._trace_groups([str(self.query.runId)])
        self.batch_before = max(self.commits)
        start = time.perf_counter()
        first = self.file_seq + 1

        def generate() -> None:
            for j in range(n_files):
                due = start + j / self.RATE
                time.sleep(max(0.0, due - time.perf_counter()))
                self.late_ms.append((time.perf_counter() - due) * 1000)
                committed = len(self.commits)
                self.landed_bytes += self._land_next()
                self.due[f"events-{self.file_seq:05d}.parquet"] = due
                # the reference jobs run once the file's batch has committed,
                # and only if they can end before the next file is due
                gap_end = due + 1 / self.RATE - self.REF_ROOM_S
                while len(self.commits) == committed and time.perf_counter() < gap_end:
                    time.sleep(0.01)
                if time.perf_counter() < gap_end:
                    self.reference()

        gen_thread = threading.Thread(target=generate, name="perfbench-generator")
        gen_thread.start()
        gen_thread.join()
        self.query.processAllAvailable()
        self.reference()
        batch_of = self._file_batches()
        self.timeline = []
        for seq in range(first, first + n_files):
            name = f"events-{seq:05d}.parquet"
            b = batch_of.get(name)
            if b is None or b not in self.commits:
                self.failed += 1
                continue
            commit = self.commits[b]
            self.timeline.append((self.due[name], commit))
            self.ops.append(Op(commit - self.due[name], self.ROWS_PER_FILE))
        if self.tracer is not None:
            self.progress = [p if isinstance(p, dict) else json.loads(p.json)
                             for p in self.query.recentProgress]

    def throughput(self, wall: float) -> float:
        """Rows committed per second of the window (the open loop's input
        rate while the stream keeps up)."""
        return sum(op.items for op in self.ops) / wall

    def _file_batches(self) -> dict[str, int]:
        """file name -> micro-batch id, from the file source's commit log."""
        out: dict[str, int] = {}
        for path in glob.glob(os.path.join(self.root, "checkpoint", "sources", "0", "*")):
            with open(path) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def check(self) -> int:
        files = sorted(glob.glob(os.path.join(self.land_dir, "*.parquet")))
        return oracle.upsert_mismatches(oracle.store_files(self.store_root, "users"), files)

    def close(self) -> None:
        self.query.stop()

    def layers(self) -> dict[str, float]:
        prog = self.progress
        since = [p for p in prog if p["batchId"] > self.batch_before]
        dur = [p.get("durationMs", {}) for p in since if p.get("numInputRows", 0) > 0]
        backlog = max((sum(1 for d, c in self.timeline if d <= t < c)
                       for t, _ in self.timeline), default=0)
        n = max(1, len(dur))
        after = self._trace_groups([str(self.query.runId)])
        sc = {k: after[k] - self.counters_before.get(k, 0.0) for k in after}
        with self.tracer.overhead():
            table_rows = sum(f["rows"] for f in self.store.manifest("users")["files"])
        changed = sum(op.items for op in self.ops) / n
        return {
            "writers.rows_rewritten": float(table_rows),
            "writers.rows_changed": changed,
            "writers.useful_ratio": changed / table_rows if table_rows else 0.0,
            "spark.jobs_per_op": sc["jobs"] / max(1, len(self.ops)),
            "spark.tasks_per_op": sc["tasks"] / max(1, len(self.ops)),
            "spark.gc_s": sc["gc_s"],
            "streaming.batches": float(len(since)),
            "streaming.empty_batches": float(sum(1 for p in since
                                                 if p.get("numInputRows", 0) == 0)),
            "streaming.batch_ms_p50": median([d.get("triggerExecution", 0) for d in dur]),
            "streaming.addbatch_ms_p50": median([d.get("addBatch", 0) for d in dur]),
            "streaming.planning_ms_p50": median(
                [d.get("getBatch", 0) + d.get("latestOffset", 0) + d.get("queryPlanning", 0)
                 for d in dur]),
            "streaming.backlog_files_max": float(backlog),
            "harness.gen_late_ms": max(self.late_ms, default=0.0),
        }


# -- corpus_curation ---------------------------------------------------------

STAGES = ("exact_dedup", "lsh_candidate_pairs", "connected_components",
          "gopher_rules", "unigram_surprise")


class CorpusCuration(Workload):
    """Batch: the five-stage curation pipeline over a seeded corpus with
    exact copies and near-duplicate edits, run once, cold (at this size it
    outlasts the window)."""

    N_BASE = 300
    COPY_FRAC = 0.15
    NEAR_FRAC = 0.15
    JACCARD = 0.5

    def setup(self, sub: str) -> None:
        self.root = sub
        self.input_dir = os.path.join(sub, "in")
        os.makedirs(self.input_dir)
        self.docs_file = os.path.join(sub, "in", "docs.parquet")
        table = gen.corpus(gen.rng_for(self.seed, 6), self.N_BASE, self.COPY_FRAC,
                           self.NEAR_FRAC)
        gen.write(table, self.docs_file)
        self.n_docs = table.num_rows

    def warm(self) -> None:
        """Only the session's first job: a batch curation job is one
        application run, so its users pay the first (compiling) run of every
        stage plan each time, and the timed phase measures exactly that."""
        self.spark.range(200_000).selectExpr("sum(id * 2)").collect()

    def _pipeline(self, docs, group: str | None = None) -> dict:
        """Run the five stages, each forced; returns the stage outputs."""
        import pyspark.sql.functions as F

        from projectone_spark.functions import dedup, text

        def stage(name: str, fn):
            self.reference()  # the pipeline's time excludes these
            if self.tracer is None:
                return fn()
            with self.tracer.span(f"functions.{name}"):
                return fn()

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        out: dict = {}
        out["dedup"] = stage("exact_dedup",
                             lambda: dedup.exact_dedup(docs).localCheckpoint())
        survivors = docs.join(out["dedup"].select("doc_id"), "doc_id", "left_semi")
        out["pairs"] = stage("lsh_candidate_pairs",
                             lambda: dedup.lsh_candidate_pairs(survivors).localCheckpoint())
        stage("connected_components", lambda: noop(dedup.connected_components(
            out["pairs"].filter(F.col("est_jaccard") >= self.JACCARD))))
        stage("gopher_rules", lambda: noop(text.gopher_rules(survivors)))
        stage("unigram_surprise", lambda: noop(text.unigram_surprise(survivors)))
        if group is not None:
            self.spark.sparkContext.setJobGroup("", "")
        out["survivors"] = survivors
        return out

    @staticmethod
    def _release(out: dict) -> None:
        from projectone_spark.session import release_checkpoint

        release_checkpoint(out["dedup"])
        release_checkpoint(out["pairs"])

    def timed(self, deadline: float) -> None:
        docs = self.spark.read.parquet(self.docs_file)
        self.groups: list[str] = []
        self.last = None
        self.reference(4)
        # one pipeline: a second run in the same session would be warm, which
        # a batch job's users never see (retried only if it fails)
        while not self.ops and time.perf_counter() < deadline:
            group = None
            if self.tracer is not None:
                self.tracer.op_id = len(self.ops)
                group = f"perfbench_curation_{len(self.ops)}"
                self.groups.append(group)
            n_refs = len(self.refs)
            t0 = time.perf_counter()
            try:
                out = self._pipeline(docs, group)
            except Exception as e:
                self.failed += 1
                print(f"# corpus_curation: pipeline failed: {e!r}", flush=True)
                continue
            ref_s = sum(self.refs[n_refs:])
            self.ops.append(Op(time.perf_counter() - t0 - ref_s, self.n_docs))
            if self.last is not None:
                self._release(self.last)
            self.last = out
        self.reference(4)

    def check(self) -> int:
        from projectone_spark.functions import text

        ded = [tuple(r) for r in self.last["dedup"].collect()]
        bad = oracle.exact_dedup_mismatches(self.docs_file, ded)
        # collected whole: a filter on ``keep`` re-plans the rule battery
        # into a far slower form than the stage itself runs
        kept = sum(r["keep"] for r in text.gopher_rules(self.last["survivors"]).collect())
        return bad + abs(kept - oracle.gopher_keep_count(self.docs_file,
                                                          [r[1] for r in ded]))

    def layers(self) -> dict[str, float]:
        sc = self._trace_groups(self.groups)
        n = max(1, len(self.ops))
        with self.tracer.overhead():
            pairs = self.last["pairs"]
            total = pairs.count()
            good = pairs.filter(pairs.est_jaccard >= self.JACCARD).count()
        out = {f"functions.{s}_s": sum(self.tracer.durations(f"functions.{s}")) / n
               for s in STAGES}
        out.update({
            "functions.shuffle_mb": sc["shuffle_mb"] / n,
            "functions.spill_mb": sc["spill_mb"] / n,
            "functions.lsh_precision": good / total if total else 0.0,
            "spark.jobs_per_op": sc["jobs"] / n,
            "spark.tasks_per_op": sc["tasks"] / n,
            "spark.gc_s": sc["gc_s"],
        })
        return out


WORKLOADS = {
    "scd_incremental": ScdIncremental,
    "stream_upsert": StreamUpsert,
    "corpus_curation": CorpusCuration,
}

