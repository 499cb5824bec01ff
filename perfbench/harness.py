"""Run-time plumbing: the process-tree sampler, Spark session lifetime,
and the small statistics the metrics are built from."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


# -- /proc process-tree sampling ---------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces: split after it
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree: each live process's own user+system time
    plus that of its children it has already reaped."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:  # utime stime cutime cstime are fields 14-17
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree as the sum of proportional set sizes: a
    page shared by several processes (a forked child and its parent) counts
    once, not once per process as plain RSS would."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def host_steal(since: tuple[int, int] | None = None):
    """Share of CPU time the hypervisor gave to other guests, from the
    ``steal`` column of ``/proc/stat``: with no argument, a reading to pass
    back in later; with one, the percentage stolen since that reading."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7] if len(ticks) > 7 else 0, sum(ticks))
    if since is None:
        return now
    total = now[1] - since[1]
    return 100.0 * (now[0] - since[0]) / total if total else 0.0


class RssSampler:
    """Background thread tracking the peak RSS of the process tree."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler",
                                        daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark session lifetime --------------------------------------------------

def start_spark(run_root: str, cores: int):
    """The engine's own session factory, with every scratch path of the
    JVM and Spark kept under ``run_root``, a fixed, modest heap, and task,
    collector and compiler threads each held to ``cores``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # no JVM of the run writes its perf-data file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from projectone_spark.session import get_spark

    tmp = os.path.join(run_root, "jvm_tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.memory": "1g",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.local.dir": os.path.join(run_root, "spark_local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        # the whole heap is committed and touched at start, so peak RSS does
        # not depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                                         f"-XX:ParallelGCThreads={cores} "
                                         f"-XX:CICompilerCount={max(2, cores)} "
                                         f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.checkpointLocation": os.path.join(run_root, "ckpt"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reference_job(spark, repeats: int) -> list[float]:
    """Latencies of a fixed small Spark job that runs no engine code. It is
    as fast as the shared host is at the moment and nothing else, so an
    operation's latency divided by it stays comparable across runs when the
    host's speed does not."""
    import pyspark.sql.functions as F

    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(0, 200_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
        out.append(time.perf_counter() - t0)
    return out


def stop_spark(spark, root_pid: int, timeout_s: float = 30.0) -> None:
    """Stop the session, then the gateway JVM, and wait until every child
    process of this interpreter has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while len(tree_pids(root_pid)) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# -- statistics --------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """The highest of p99/p95/p90/p75 with at least ten samples above it."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                continue
    return total
