"""Run-level plumbing shared by every workload: the per-run work
directory, the Spark session sized for this host, statistics, the
peak-RSS sampler, the host ALU control and row digests.

Nothing here imports pyspark at module level, so the statistics and
digest helpers are testable without a JVM.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# the host has 15 GB shared with other tenants; the package's own session
# default (48g) would let the JVM claim far more than the host has. The
# heap is touched in full at start, so the JVM's RSS does not depend on
# when the collector chose to grow it and peak_rss_mb varies with the
# Python workers and off-heap memory instead of with GC timing.
DRIVER_HEAP = "2g"

ALU_SINES = 10_000_000

# ladder the tail percentile is picked from, so runs with a similar
# operation count report the same percentile
TAIL_LADDER = (50.0, 60.0, 66.0, 75.0, 80.0, 90.0, 95.0, 99.0)


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    n = len(v)
    return v[n // 2] if n % 2 else 0.5 * (v[n // 2 - 1] + v[n // 2])


def nearest_rank(values, pct: float) -> float:
    """Smallest sample with at least pct% of the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    return v[max(1, math.ceil(pct / 100.0 * len(v))) - 1]


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest ladder percentile whose nearest-rank sample has at least
    ``beyond`` samples above it at ``n`` samples; None when even the
    median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= beyond:
            best = p
    return best


def latency_summary(samples) -> dict:
    """p50 and the tail by the rule above, with the percentile used and
    the sample count, so a report can say what "tail" meant."""
    n = len(samples)
    pct = tail_percentile(n)
    tail = nearest_rank(samples, pct) if pct is not None else max(samples)
    return {"p50": median(samples), "tail": tail,
            "tail_pct": pct if pct is not None else 100.0, "n": n}


def row_digest(df: pd.DataFrame, cols) -> int:
    """Order-insensitive digest of a frame's rows: the wrapping uint64 sum
    of per-row hashes over ``cols`` in that order. Integer columns are
    hashed as int64 and float columns as float64, so the same rows read
    from Spark, DuckDB or pyarrow give the same digest."""
    return int(_row_hashes(df, cols).sum(dtype=np.uint64))


def _row_hashes(df: pd.DataFrame, cols) -> np.ndarray:
    canon = pd.DataFrame({
        c: (df[c].astype("float64") if pd.api.types.is_float_dtype(df[c])
            else df[c].astype("int64") if pd.api.types.is_integer_dtype(df[c])
            else df[c].astype(object))
        for c in cols
    })
    return pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)


def digest_by(df: pd.DataFrame, cols, key: str) -> dict:
    """Per-``key`` digests, so an expected digest can be assembled from
    the groups a change touched and the groups it did not."""
    h = pd.Series(_row_hashes(df, cols), index=df.index)
    return {k: int(v.to_numpy(np.uint64).sum(dtype=np.uint64))
            for k, v in h.groupby(df[key].to_numpy())}


def wrap_sum(values) -> int:
    return int(np.asarray(list(values), dtype=np.uint64).sum(dtype=np.uint64))


class Phases:
    """Wall time of each named phase of a run, for the report header."""

    def __init__(self):
        self.times: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[name] = time.perf_counter() - t0


@dataclass
class Op:
    """One closed-loop operation: ``fn`` does the timed work and returns
    its output; ``check`` (untimed) returns (errors, info), where info
    carries the numbers the workload's summary needs."""

    kind: str
    fn: Callable[[], object]
    check: Callable[[object], tuple]


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def bench_cores() -> int:
    """Spark task slots: half the CPUs this process may run on. A task
    of a Python operator keeps both its JVM thread and its Python worker
    busy, and the driver-side planner, the JIT compiler and the
    collector need CPUs of their own; with a slot per CPU they queue
    behind the tasks and a run measures the scheduler."""
    return max(1, host_cpus() // 2)


@dataclass
class Run:
    """One benchmark process: its seed, work directory and session."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int = field(default_factory=bench_cores)
    work: str = ""
    spark: object = None
    failures: list = field(default_factory=list)
    attempted: int = 0

    def path(self, *parts) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, what: str, errors) -> None:
        """Count one checked operation; any error marks it failed."""
        self.attempted += 1
        if errors:
            self.fail(f"{what}: {'; '.join(map(str, errors))[:500]}")


def prepare_work(run: Run) -> None:
    """Fresh per-run directory inside the checkout for everything the
    run writes: Spark local dirs, event log, temp files, the compiled
    kernel cache and every input and output table. Set before the JVM
    and its Python workers start, so they inherit it."""
    shutil.rmtree(WORK_ROOT, ignore_errors=True)
    run.work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    for d in ("tmp", "cache", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run.work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(run.work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # every JVM, the launcher's too, would otherwise keep a perf-data
    # file under /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def start_spark(run: Run):
    from matrixprofile_spark.session import get_spark

    # a run lives for under a minute: at the default JIT thresholds the
    # operations were still speeding up through the whole measured window
    conf = {
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                          f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
                                          "-XX:CompileThresholdScaling=0.1"),
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
    }
    if run.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    run.spark = get_spark(f"perfbench-{run.workload}", cores=run.cores,
                          extra_conf=conf)
    return run.spark


def stop_spark(run: Run, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until the JVM and its Python workers
    have exited: closing the gateway's stdin is what ends the JVM."""
    from pyspark import SparkContext

    run.spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.perf_counter() + timeout_s
    while descendants(os.getpid()) and time.perf_counter() < deadline:
        time.sleep(0.1)
    run.spark = None


def session_facts(run: Run) -> dict:
    conf = run.spark.sparkContext.getConf()
    return {"driver_heap": conf.get("spark.driver.memory"),
            "cores": run.cores, "host_cpus": host_cpus(), "master": conf.get("spark.master"),
            "local_dirs": conf.get("spark.local.dir"),
            "shuffle_partitions": run.spark.conf.get("spark.sql.shuffle.partitions")}


def cleanup(run: Run) -> None:
    shutil.rmtree(WORK_ROOT, ignore_errors=True)


def storage_blocks(spark) -> int:
    """Cached or checkpointed RDD blocks the JVM currently holds."""
    return sum(int(i.numCachedPartitions())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def settle_storage(spark, level: int, timeout_s: float = 10.0) -> int:
    """Drop unreachable checkpoints (Python GC releases the JVM handles,
    then a JVM GC lets Spark's context cleaner unpersist them) and wait
    until the block count is back at ``level``; returns the last count."""
    import gc

    deadline = time.perf_counter() + timeout_s
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        n = storage_blocks(spark)
        if n <= level or time.perf_counter() > deadline:
            return n
        time.sleep(0.2)


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled from /proc on a background thread.

    A process counts only from its second sample on. A child the JVM
    spawns to run a command shares the JVM's memory until it execs, and
    /proc reports the shared pages as its own RSS too."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._seen: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _loop(self):
        while not self._stop.is_set():
            procs = descendants(os.getpid())
            self.peak_kb = max(self.peak_kb, sum(rss for key, rss in procs.items()
                                                 if key in self._seen))
            self._seen = set(procs)
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def descendants(root: int) -> dict:
    """{(pid, start time): RSS in kB} for every descendant of ``root``."""
    parent, rss = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/status") as f:
                vm = next((line.split()[1] for line in f if line.startswith("VmRSS:")), "0")
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(stat[1])
        rss[(pid, stat[19])] = int(vm)
    out = {}
    for key, kb in rss.items():
        p = parent.get(key[0])
        while p and p != root:
            p = parent.get(p)
        if p == root:
            out[key] = kb
    return out


def alu_control(spark, cores: int) -> float:
    """Host control: a fixed number of sines summed in 4×cores equal JVM
    tasks, no input, no shuffle, no Python. Timed on its second run (the
    first compiles it). A slow host window shows here as well as in the
    workload's numbers, so it is not read as a regression."""
    from pyspark.sql import functions as F

    def job():  # a new DataFrame each time: re-collecting one reuses its result
        spark.range(0, ALU_SINES, 1, 4 * cores).select(F.sum(F.sin("id"))).collect()

    job()
    t0 = time.perf_counter()
    job()
    return time.perf_counter() - t0
