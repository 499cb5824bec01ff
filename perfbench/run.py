"""Engine benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload scd_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up (session start, warm-up, input
landing) happens first and is reported as ``setup_s``; then the workload
runs for ``--seconds``; then its outputs are checked against DuckDB. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.bench_run/`` in the
checkout and is removed at exit; a traced run also leaves its spans in
``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-ups per run; ``setup_s`` takes their median
SETUPS = 3

#: Spark task slots (and JVM collector threads). The inputs are small, so
#: more slots only add threads that wait on each other: on a few shared
#: vCPUs every hand-off between threads can wait for a vCPU the hypervisor
#: has lent to another guest, and latency then tracks the neighbours' load.
SPARK_CORES = 2

END_TO_END = {
    "setup_s": "s", "op_p50_rel": "ratio", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "task.execute_s": "s", "task.self_s": "s", "task.state_writes": "count",
    "task.state_io_s": "s",
    "sources.read_s": "s", "sources.files_listed": "count",
    "cdc.resolve_s": "s", "cdc.rows_scanned": "count", "cdc.selectivity": "ratio",
    "writers.rows_rewritten": "count", "writers.rows_changed": "count",
    "writers.useful_ratio": "ratio", "writers.shuffle_mb": "MB", "writers.cpu_s": "s",
    "store.write_s": "s", "store.write_job_s": "s", "store.write_overhead_s": "s",
    "store.bytes_written": "bytes", "store.files_written": "count",
    "store.manifest_bytes": "bytes", "store.versions_retained": "count",
    "store.read_s": "s", "store.write_amp": "ratio", "store.space_amp": "ratio",
    "skipping.stats_s": "s",
    "streaming.batches": "count", "streaming.empty_batches": "count",
    "streaming.batch_ms_p50": "ms", "streaming.addbatch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.backlog_files_max": "count",
    "functions.exact_dedup_s": "s", "functions.lsh_candidate_pairs_s": "s",
    "functions.connected_components_s": "s", "functions.gopher_rules_s": "s",
    "functions.unigram_surprise_s": "s", "functions.shuffle_mb": "MB",
    "functions.spill_mb": "MB", "functions.lsh_precision": "ratio",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count", "spark.gc_s": "s",
    "harness.gen_late_ms": "ms", "harness.trace_overhead_pct": "%",
}


def _store_usage(wl, since: float) -> dict[str, float]:
    """Bytes and files the timed phase wrote under the workload's store, the
    versions retained, and store and input sizes at the end."""
    from perfbench.harness import dir_bytes

    out = {"written": 0, "files": 0, "versions": 0, "store": 0,
           "inputs": dir_bytes(wl.input_dir)}
    root = getattr(wl, "store_root", "")
    for dirpath, _, files in os.walk(root) if root else ():
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            out["store"] += st.st_size
            out["versions"] += fn.startswith("_manifest_v")
            if st.st_mtime >= since:
                out["written"] += st.st_size
                out["files"] += fn.endswith(".parquet")
    return out


def _amplification(wl, usage: dict) -> tuple[float, float]:
    """(write_amp, space_amp): store bytes written in the window per input
    byte landed in it, and store bytes per input byte."""
    write_amp = usage["written"] / wl.landed_bytes if wl.landed_bytes else 0.0
    space_amp = usage["store"] / usage["inputs"] if usage["inputs"] else 0.0
    return write_amp, space_amp


def _layer_metrics(wl, tracer, session_s: float, wall: float,
                   usage: dict) -> dict[str, float]:
    n =max(1, len(wl.ops))
    t = tracer
    c = t.counters
    write_s = t.total("store.write")
    job_s = t.total("store.write_job")
    items = sum(op.items for op in wl.ops)
    out = {name: 0.0 for name in PER_LAYER}
    out.update({
        "session.start_s": session_s,
        "task.execute_s": t.total("task.execute") / n,
        "task.self_s": t.self_total("task.execute") / n,
        "task.state_writes": len(t.durations("task.state_write")) / n,
        "task.state_io_s": (t.total("task.state_write") + t.total("task.state_read")) / n,
        "sources.read_s": t.total("sources.read") / n,
        "sources.files_listed": c["sources.files_listed"] / n,
        "cdc.resolve_s": t.total("cdc.resolve") / n,
        "cdc.rows_scanned": c["cdc.rows_scanned"] / n,
        "cdc.selectivity": items / c["cdc.rows_scanned"] if c["cdc.rows_scanned"] else 0.0,
        "store.write_s": write_s / n,
        "store.write_job_s": job_s / n,
        "store.write_overhead_s": (write_s - job_s) / n,
        "store.manifest_bytes": c["store.manifest_bytes"] / n,
        "store.read_s": t.total("store.read") / n,
        "skipping.stats_s": t.total("skipping.stats") / n,
    })
    write_amp, space_amp = _amplification(wl, usage)
    out.update({
        "store.bytes_written": usage["written"] / n,
        "store.files_written": usage["files"] / n,
        "store.versions_retained": float(usage["versions"]),
        "store.write_amp": write_amp,
        "store.space_amp": space_amp,
    })
    out.update(wl.layers())
    out["harness.trace_overhead_pct"] = 100.0 * t.overhead_s / wall
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, run_root: str) -> dict:
    from perfbench.harness import (
        RssSampler,
        host_steal,
        median,
        percentile,
        reference_job,
        start_spark,
        stop_spark,
        tail_percentile,
        tree_cpu_s,
    )
    from perfbench.trace import Tracer, install_engine_spans
    from perfbench.workloads import WORKLOADS

    pid = os.getpid()
    cores = min(SPARK_CORES, len(os.sched_getaffinity(0)))
    with RssSampler(pid) as rss:
        t0 = time.perf_counter()
        spark = start_spark(run_root, cores)
        try:
            session_s = time.perf_counter() - t0
            setups, wl = [], None
            for k in range(SETUPS):
                if wl is not None:  # keep only the last set-up
                    wl.close()
                    shutil.rmtree(wl.root, ignore_errors=True)
                wl = WORKLOADS[workload](spark, seed)
                t0 = time.perf_counter()
                wl.setup(os.path.join(run_root, f"setup{k}"))
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm()
            reference_job(spark, 4)  # the reference job's own first runs
            warm_s = time.perf_counter() - t0
            tracer = None
            if trace:
                tracer = Tracer()
                install_engine_spans(tracer)
                wl.tracer = tracer
            cpu0, steal0 = tree_cpu_s(pid), host_steal()
            start = time.perf_counter()
            wall_start = time.time()
            try:
                wl.timed(start + seconds)
            finally:
                wall = time.perf_counter() - start
                cpu = tree_cpu_s(pid) - cpu0
                steal = host_steal(steal0)
                if tracer is not None:
                    tracer.restore()
            usage = _store_usage(wl, wall_start)
            layers = (_layer_metrics(wl, tracer, session_s, wall, usage)
                      if tracer is not None else None)
            t0 = time.perf_counter()
            mismatches = wl.check()
            wl.close()
            check_s = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            stop_spark(spark, pid)
            stop_s = time.perf_counter() - t0
    ops = wl.ops
    latencies = [op.latency_s for op in ops]
    refs = wl.refs
    attempted = len(ops) + wl.failed
    q = tail_percentile(len(latencies))
    write_amp, space_amp = _amplification(wl, usage)
    report = {  # everything a user would read, traced or not
        "setup_s": (session_s + warm_s + median(setups), "s"),
        "wall_s": (wall, "s"),
        "throughput": (wl.throughput(wall), "1/s"),
        "op_p50_ms": (median(latencies) * 1000, "ms"),
        "ref_ms": (median(refs) * 1000, "ms"),
        "op_p50_rel": (median(latencies) / median(refs), "ratio"),
        f"op_p{q}_ms" if q else "op_tail_ms": (
            percentile(latencies, q) * 1000 if q else None, "ms"),
        "cpu_s": (cpu, "s"),
        "cpu_ms_per_op": (cpu * 1000 / max(1, len(ops)), "ms"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
        "error_rate": (wl.failed / max(1, attempted), "ratio"),
        "mismatches": (mismatches, "count"),
    }
    print(f"# {workload} seed={seed} ops={len(ops)} trace={int(trace)}: "
          + " ".join(f"{k}={'n/a' if v is None else round(v, 4)} {u}"
                     for k, (v, u) in report.items()), flush=True)
    print(f"# phases: session_s={session_s:.2f} warm_s={warm_s:.2f} "
          f"setups_s={[round(x, 2) for x in setups]} check_s={check_s:.2f} "
          f"stop_s={stop_s:.2f} host_steal_pct={steal:.1f}"
          + "".join(f" {k}={getattr(wl, k):.2f}" for k in ("catchup_rate",)
                    if hasattr(wl, k)), flush=True)
    if tracer is not None:
        out_dir = os.path.join(CHECKOUT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{workload}-{seed}.jsonl"))
        metrics, units = layers, PER_LAYER
    else:
        metrics, units = {k: v for k, (v, _) in report.items()}, END_TO_END
    return {
        "correct": mismatches == 0 and attempted > 0,
        "attempted": max(1, attempted),
        "failed": wl.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, CHECKOUT)
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, "projectone_spark", "__init__.py")):
        print(f"error: engine sources (projectone_spark/) not found in {CHECKOUT}",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_root = os.path.join(CHECKOUT, ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_root, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_root, "tmp")
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
